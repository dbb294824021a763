"""Seeded synthetic okta and CloudTrail raw objects, and the results the
engine must produce for them, computed from the seed alone.

Everything here is pure Python and deterministic in its arguments: the
same seed gives byte-identical objects (gzip mtime pinned to 0) and the
same ground truth. The engine only ever sees the object bytes.

Traffic model. Okta events come from a user population with skewed
activity and home IPs, plus attacker IPs that send bursts of failed
logins. CloudTrail records come from IAM users, assumed roles, AWS
services and, rarely, the root account. The oracle replays the two
detections (`login_brute_force_by_ip`, `aws_root_credentials`) and the
fixed-anchor alert fold (operators.alerts semantics) in plain Python.
"""

from __future__ import annotations

import bisect
import datetime as dt
import gzip
import hashlib
import json
import random
from collections import Counter, defaultdict
from dataclasses import dataclass, field

BASE_US = 1714521600 * 1_000_000  # 2024-05-01T00:00:00Z
SEC_US = 1_000_000
MIN_US = 60 * SEC_US
HOUR_US = 60 * MIN_US

BRUTE_FORCE = "login_brute_force_by_ip"
ROOT_CREDS = "aws_root_credentials"
# (threshold, window_us): the alert blocks of the two detection.yml files
RULES = {BRUTE_FORCE: (5, 15 * MIN_US), ROOT_CREDS: (1, 60 * MIN_US)}

# eventType → (tagged event.category=authentication by the okta pack,
# weight in benign traffic)
OKTA_TYPES = {
    "user.session.start": (True, 30),
    "user.authentication.sso": (True, 20),
    "policy.evaluate_sign_on": (True, 15),
    "user.session.end": (True, 12),
    "user.account.update_password": (False, 10),
    "group.user_membership.add": (False, 8),
    "user.lifecycle.create": (False, 3),
    "application.lifecycle.update": (False, 2),
}
_OKTA_TYPE_NAMES = list(OKTA_TYPES)
_OKTA_TYPE_CUM = []
_acc = 0
for _t in _OKTA_TYPE_NAMES:
    _acc += OKTA_TYPES[_t][1]
    _OKTA_TYPE_CUM.append(_acc)

CITIES = [
    ("San Francisco", "California", "United States", "94103"),
    ("New York", "New York", "United States", "10001"),
    ("London", "England", "United Kingdom", "EC1A"),
    ("Berlin", "Berlin", "Germany", "10115"),
    ("Sydney", "New South Wales", "Australia", "2000"),
]
CT_CALLS = [
    ("s3.amazonaws.com", "GetObject", True),
    ("s3.amazonaws.com", "PutObject", False),
    ("ec2.amazonaws.com", "DescribeInstances", True),
    ("iam.amazonaws.com", "ListUsers", True),
    ("sts.amazonaws.com", "AssumeRole", False),
    ("kms.amazonaws.com", "Decrypt", True),
    ("signin.amazonaws.com", "ConsoleLogin", False),
    ("lambda.amazonaws.com", "Invoke", False),
]
ACCOUNT = "111122223333"
THREAT_TYPES = ["botnet_cc", "bruteforce", "proxy", "scanner", "tor_exit"]


def iso(us: int, ms: bool = True) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    if ms:
        return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def hour_key(us: int) -> str:
    """The lake's ts_hour partition value for an event time."""
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%d-%H")


def gz(lines: list[str]) -> bytes:
    return gzip.compress(("\n".join(lines) + "\n").encode(), mtime=0)


def fold_alerts(matches: list[tuple[str, str, int]]) -> list[dict]:
    """Fixed-anchor deduplication fold over (rule, dedupe, ts_us)
    matches: a match at or after anchor + window opens a new alert, an
    alert activates when its count reaches the rule's threshold."""
    by_key: dict[tuple[str, str], list[int]] = defaultdict(list)
    for rule, dedupe, ts in matches:
        by_key[(rule, dedupe)].append(ts)
    out = []
    for (rule, dedupe), times in sorted(by_key.items()):
        thr, window = RULES[rule]
        cur = None
        for t in sorted(times):
            if cur is None or t - cur["anchor"] >= window:
                cur = {"rule": rule, "dedupe": dedupe, "anchor": t, "last": t,
                       "count": 0, "created": None}
                out.append(cur)
            cur["count"] += 1
            cur["last"] = t
            if cur["created"] is None and cur["count"] >= thr:
                cur["created"] = t
    return out


# -- okta --------------------------------------------------------------


@dataclass(frozen=True)
class OktaEvent:
    ts_us: int
    uuid: str
    user: str
    ip: str
    event_type: str
    result: str

    @property
    def failure(self) -> bool:
        return self.result in ("FAILURE", "DENY")

    @property
    def brute_force_match(self) -> bool:
        return self.failure and OKTA_TYPES[self.event_type][0]

    def line(self) -> str:
        u = int(self.user[4:])
        city = CITIES[u % len(CITIES)]
        return json.dumps({
            "uuid": self.uuid,
            "published": iso(self.ts_us),
            "eventType": self.event_type,
            "version": "0",
            "severity": "WARN" if self.failure else "INFO",
            "displayMessage": self.event_type.replace(".", " "),
            "actor": {"id": f"00u{u:07d}", "type": "User",
                      "alternateId": f"{self.user}@example.com",
                      "displayName": f"User {u}"},
            "client": {"device": "Computer", "ipAddress": self.ip, "zone": "null",
                       "userAgent": {"browser": "CHROME", "os": "Mac OS X",
                                     "rawUserAgent": "Mozilla/5.0 (Macintosh)"},
                       "geographicalContext": {"city": city[0], "state": city[1],
                                               "country": city[2],
                                               "postalCode": city[3]}},
            "outcome": {"result": self.result,
                        "reason": "INVALID_CREDENTIALS" if self.failure else None},
            "transaction": {"id": "tx" + self.uuid, "type": "WEB"},
            "authenticationContext": {"authenticationStep": 0,
                                      "externalSessionId": f"s{u:06d}",
                                      "credentialType": "PASSWORD"},
            "securityContext": {"asNumber": 64500 + u % 20, "asOrg": "example",
                                "domain": "example.net", "isProxy": False,
                                "isp": "Example ISP"},
            "debugContext": {"debugData": {"requestId": "r" + self.uuid,
                                           "requestUri": "/api/v1/authn",
                                           "url": "/api/v1/authn?"}},
        }, separators=(",", ":"))


class Population:
    """Users with Zipf-skewed activity; each has a home IP and sometimes
    logs in from a shared travel IP."""

    def __init__(self, rng: random.Random, n_users: int, n_travel: int = 64):
        self.users = [f"user{i:04d}" for i in range(n_users)]
        self.home = [f"10.{i // 250}.{i % 250}.{rng.randrange(1, 255)}"
                     for i in range(n_users)]
        self.travel = [f"203.0.113.{i}" for i in range(1, n_travel + 1)]
        acc, self.cum = 0.0, []
        for i in range(n_users):
            acc += 1.0 / (i + 1) ** 0.8
            self.cum.append(acc)

    def pick(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])

    def ip(self, rng: random.Random, u: int) -> str:
        return self.travel[rng.randrange(len(self.travel))] if rng.random() < 0.1 \
            else self.home[u]


def _okta_type(rng: random.Random) -> str:
    return _OKTA_TYPE_NAMES[bisect.bisect_left(
        _OKTA_TYPE_CUM, rng.random() * _OKTA_TYPE_CUM[-1] + 1e-12)]


def _ms(rng: random.Random, span_us: int) -> int:
    """A random offset in [0, span_us) on the millisecond grid okta
    timestamps are published with."""
    return rng.randrange(span_us // 1000) * 1000


def benign_okta(rng, pop, n, start_us, span_us, prefix, fail_p=0.03):
    out = []
    for i in range(n):
        u = pop.pick(rng)
        et = _okta_type(rng)
        failed = rng.random() < fail_p
        if et == "policy.evaluate_sign_on":
            result = "DENY" if failed else "ALLOW"
        else:
            result = "FAILURE" if failed else "SUCCESS"
        out.append(OktaEvent(start_us + _ms(rng, span_us), f"{prefix}-{i:06d}",
                             pop.users[u], pop.ip(rng, u), et, result))
    return out


def attack_burst(rng, ip, n_users, start_us, size, prefix, gap_s=(5, 40)):
    """`size` failed session starts from one IP against random users."""
    out, t = [], start_us
    for i in range(size):
        out.append(OktaEvent(t, f"{prefix}-{i:03d}", f"user{rng.randrange(n_users):04d}",
                             ip, "user.session.start", "FAILURE"))
        t += rng.randint(*gap_s) * SEC_US
    return out


def brute_force_matches(events: list[OktaEvent]) -> list[tuple[str, str, int]]:
    return [(BRUTE_FORCE, e.ip, e.ts_us) for e in events if e.brute_force_match]


# -- CloudTrail --------------------------------------------------------


def cloudtrail_records(rng, n, start_us, span_us, prefix):
    """Returns (records as dicts, root-credential match times)."""
    recs, root = [], []
    for i in range(n):
        ts = start_us + rng.randrange(span_us // SEC_US) * SEC_US
        src, name, ro = CT_CALLS[rng.randrange(len(CT_CALLS))]
        r = rng.random()
        if r < 0.02:
            kind = "Root"
            etype = "AwsServiceEvent" if rng.random() < 0.25 else "AwsApiCall"
        elif r < 0.10:
            kind, etype = "AWSService", "AwsServiceEvent"
        elif r < 0.30:
            kind, etype = "AssumedRole", "AwsApiCall"
        else:
            kind, etype = "IAMUser", "AwsApiCall"
        user = f"iam{rng.randrange(200):03d}" if kind == "IAMUser" else None
        ip = "ec2.amazonaws.com" if kind == "AWSService" else \
            f"172.16.{rng.randrange(64)}.{rng.randrange(1, 255)}"
        recs.append({
            "eventVersion": "1.08", "eventTime": iso(ts, ms=False),
            "eventSource": src, "eventName": name, "awsRegion": "us-east-1",
            "sourceIPAddress": ip, "userAgent": "aws-cli/2.15.0",
            "requestID": f"req-{prefix}-{i}", "eventID": f"{prefix}-{i:06d}",
            "eventType": etype, "readOnly": ro,
            "userIdentity": {"type": kind, "principalId": f"AID{i % 997:05d}",
                             "userName": user, "accountId": ACCOUNT,
                             "arn": f"arn:aws:iam::{ACCOUNT}:{kind.lower()}"},
        })
        if kind == "Root" and etype != "AwsServiceEvent":
            root.append((ROOT_CREDS, ROOT_CREDS, ts))
    return recs, root


def digest_doc(hour_us: int, keys: list[str]) -> str:
    return json.dumps({
        "awsAccountId": ACCOUNT,
        "digestStartTime": iso(hour_us, ms=False),
        "digestEndTime": iso(hour_us + HOUR_US, ms=False),
        "digestS3Bucket": "trail-bucket",
        "digestS3Object": f"AWSLogs/{ACCOUNT}/CloudTrail-Digest/{hour_key(hour_us)}",
        "newestEventTime": iso(hour_us + HOUR_US - SEC_US, ms=False),
        "oldestEventTime": iso(hour_us, ms=False),
        "previousDigestS3Bucket": "trail-bucket",
        "previousDigestSignature": hashlib.sha256(str(hour_us).encode()).hexdigest(),
        "previousDigestHashAlgorithm": "SHA-256",
        "publicKeyFingerprint": hashlib.md5(ACCOUNT.encode()).hexdigest(),
        "digestSignatureAlgorithm": "SHA256withRSA",
        "logFiles": keys,
    }, separators=(",", ":"))


# -- workloads ---------------------------------------------------------


def _rng(seed: int, *parts) -> random.Random:
    h = hashlib.sha256(repr((seed,) + parts).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


@dataclass
class Batch:
    """Raw objects per log source ({relative name: bytes}) and truth."""

    objects: dict[str, dict[str, bytes]] = field(default_factory=dict)
    truth: dict = field(default_factory=dict)


def _alert_truth(matches) -> dict:
    alerts = fold_alerts(matches)
    activated = Counter(f"{a['rule']}|{a['dedupe']}" for a in alerts if a["created"])
    return {
        "matches": dict(Counter(m[0] for m in matches)),
        "alerts": dict(Counter(a["rule"] for a in alerts)),
        "activated": dict(sorted(activated.items())),
    }


def bulk_batch(seed: int, index: int, okta_n: int = 8_000, ct_n: int = 4_000,
               hours: int = 3, okta_objects: int = 12, ct_objects: int = 6,
               malformed_share: float = 0.005) -> Batch:
    """A few hours of okta and CloudTrail objects for one backfill."""
    rng = _rng(seed, "bulk", index)
    start = BASE_US + index * hours * HOUR_US
    span = hours * HOUR_US
    pop = Population(rng, 400)
    events = benign_okta(rng, pop, okta_n, start, span, f"b{index}")
    attackers = [f"198.51.100.{i}" for i in range(1, 9)]
    for a, ip in enumerate(attackers):
        for b in range(hours * 2):
            size = rng.choice([2, 3, 4, 6, 8, 10, 12])
            events += attack_burst(rng, ip, 400, start + _ms(rng, span - 10 * MIN_US),
                                   size, f"b{index}a{a}x{b}")
    rng.shuffle(events)
    lines = [e.line() for e in events]
    n_bad = int(len(lines) * malformed_share)
    for i in range(n_bad):
        good = lines[rng.randrange(len(lines))]
        lines.insert(rng.randrange(len(lines)), good[: len(good) // 2])
    okta = {}
    per = -(-len(lines) // okta_objects)
    for o in range(okta_objects):
        okta[f"okta-{index:03d}-{o:03d}.json.gz"] = gz(lines[o * per:(o + 1) * per])

    recs, root = cloudtrail_records(rng, ct_n, start, span, f"c{index}")
    recs.sort(key=lambda r: r["eventTime"])
    ct, per = {}, -(-len(recs) // ct_objects)
    for o in range(ct_objects):
        stamp = recs[o * per]["eventTime"].replace("-", "").replace(":", "")[:13]
        ct[f"{ACCOUNT}_CloudTrail_us-east-1_{stamp}Z_{index:03d}{o:03d}.json.gz"] = \
            gz([json.dumps({"Records": recs[o * per:(o + 1) * per]},
                           separators=(",", ":"))])
    keys = sorted(ct)
    for h in range(hours):
        hour_us = start + h * HOUR_US
        ct[f"{ACCOUNT}_CloudTrail-Digest_us-east-1_{hour_key(hour_us)}_{index:03d}.json.gz"] = \
            gz([digest_doc(hour_us, keys)])

    truth = {
        "events": len(events) + len(recs),
        "okta": {"lines": len(lines), "good": len(events), "malformed": n_bad},
        "cloudtrail": {"records": len(recs), "digest_objects": hours},
    }
    truth.update(_alert_truth(brute_force_matches(events) + root))
    return Batch({"okta": okta, "cloudtrail": ct}, truth)


RT_PERIOD_US = MIN_US  # event time each realtime object covers
RT_SPREAD = 7  # an attack ends at most this many objects after it opens


def _rt_start(k: int) -> int:
    return BASE_US + 12 * HOUR_US + k * RT_PERIOD_US


def rt_attack(seed: int, k: int) -> dict[int, list[OktaEvent]]:
    """The attack that opens in realtime object k, as {object: events}.

    Object k holds its first 2-4 failed logins, below the threshold of 5.
    Object k + d (d in 1..RT_SPREAD) holds 1-4 more in its own minute and
    1-2 out of order, stamped between the first failure and that minute
    (up to d minutes late). So whether the alert activates, and with what
    count, is decided by state carried over from an earlier object; when
    the two objects fall into different micro-batches the later one
    resumes the saved fold and the alert table upsert meets the alert it
    wrote before. The result does not depend on that grouping: the first
    failure is always in object k, so every grouping anchors the alert
    there; all failures lie within 8 minutes, inside one 15-minute dedupe
    window; and the latest one is on time, so it is also the last one
    folded. The late failures are at most 7 minutes older than their
    object's minute, and the watermark (10 minutes behind the newest
    event of earlier objects) never drops them."""
    rng = _rng(seed, "rt-attack", k)
    ip = f"198.51.{100 + k // 250}.{k % 250 + 1}"
    start, d = _rt_start(k), rng.randint(1, RT_SPREAD)
    later = _rt_start(k + d)
    first = sorted(start + _ms(rng, RT_PERIOD_US) for _ in range(rng.randint(2, 4)))
    late = [first[0] + _ms(rng, later - first[0]) for _ in range(rng.randint(1, 2))]
    on_time = [later + _ms(rng, RT_PERIOD_US) for _ in range(rng.randint(1, 4))]

    def fail(obj, i, ts):
        return OktaEvent(ts, f"rt{obj:05d}-a{k:05d}{i}", f"user{rng.randrange(300):04d}", ip,
                         "user.session.start", "FAILURE")

    return {k: [fail(k, i, t) for i, t in enumerate(first)],
            k + d: [fail(k + d, len(first) + i, t) for i, t in enumerate(late + on_time)]}


def realtime_object(seed: int, k: int, n: int = 2000, malformed_share: float = 0.005,
                    late_share: float = 0.03, tail_ips: int = 30):
    """Object k of the realtime stream: (name, bytes, truth, events).

    Event time advances one minute per object. A `late_share` of benign
    events is stamped up to 8 minutes early (out of order, inside the
    10-minute watermark). Failed logins come from the attacks of
    `rt_attack` that touch object k (a few IPs, most of which cross the
    threshold across two objects) and from a long tail of `tail_ips` IPs
    with 1-4 failures each, unique to the object. The alert state these
    produce is the fixed-anchor fold of all objects' matches
    (`fold_alerts`), however the objects are grouped into micro-batches."""
    rng = _rng(seed, "rt", k)
    start = _rt_start(k)
    pop = Population(_rng(seed, "rt-pop"), 300)
    events = benign_okta(rng, pop, n - 200, start, RT_PERIOD_US, f"rt{k:05d}", fail_p=0.0)
    tail = {}
    for j in range(tail_ips):
        ip = f"100.64.{k % 256}.{j + 1}"
        tail[ip] = rng.randint(1, 4)
        for i in range(tail[ip]):
            events.append(OktaEvent(start + _ms(rng, RT_PERIOD_US),
                                    f"rt{k:05d}-t{j:02d}{i}", f"user{rng.randrange(300):04d}",
                                    ip, "user.authentication.sso", "FAILURE"))
    for opened in range(max(0, k - RT_SPREAD), k + 1):
        events += rt_attack(seed, opened).get(k, [])
    while len(events) < n:
        events += benign_okta(rng, pop, 1, start, RT_PERIOD_US, f"rt{k:05d}-p{len(events)}",
                              fail_p=0.0)
    late = [e for e in events if rng.random() < late_share and not e.failure]
    late_ids = {e.uuid for e in late}
    events = [e for e in events if e.uuid not in late_ids] + [
        OktaEvent(e.ts_us - MIN_US - _ms(rng, 7 * MIN_US), e.uuid, e.user, e.ip,
                  e.event_type, e.result) for e in late]
    rng.shuffle(events)
    lines = [e.line() for e in events]
    n_bad = int(len(lines) * malformed_share)
    for i in range(n_bad):
        good = lines[rng.randrange(len(lines))]
        lines.insert(rng.randrange(len(lines)), good[: len(good) // 2])
    truth = {"good": len(events), "malformed": n_bad}
    return f"okta-rt-{k:05d}.json.gz", gz(lines), truth, events


HUNT_START = BASE_US + 24 * HOUR_US


def hunt_events(seed: int, hours: int = 4, per_hour: int = 6_000) -> list[OktaEvent]:
    """Okta events for the hunting lake, all within `hours` hours from
    HUNT_START: benign traffic (3% failures) with brute-force bursts from
    a few attacker IPs, so the alert table behind the alert-context query
    has activated alerts."""
    rng = _rng(seed, "hunt")
    start, span = HUNT_START, hours * HOUR_US
    pop = Population(rng, 400)
    events = benign_okta(rng, pop, hours * per_hour, start, span, "h")
    for a in range(8):
        ip = f"198.51.100.{a + 1}"
        for b in range(hours * 2):
            events += attack_burst(rng, ip, 400, start + _ms(rng, span - 10 * MIN_US),
                                   rng.choice([2, 3, 4, 6, 8, 10, 12]), f"h{a}x{b}")
    return sorted(events, key=lambda e: (e.ts_us, e.uuid))
