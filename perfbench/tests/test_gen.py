"""The generator is a pure function of the seed, and its oracle fold
follows the fixed-anchor alert semantics."""

from __future__ import annotations

import gzip
import json
from collections import Counter

from perfbench import gen

SMALL = dict(okta_n=300, ct_n=120, hours=1, okta_objects=2, ct_objects=2)


def test_same_seed_same_bytes_and_truth():
    a, b = gen.bulk_batch(7, 0, **SMALL), gen.bulk_batch(7, 0, **SMALL)
    assert a.objects == b.objects
    assert a.truth == b.truth
    ra, rb = gen.realtime_object(7, 3, 300), gen.realtime_object(7, 3, 300)
    assert ra[:3] == rb[:3]


def test_other_seed_other_bytes():
    assert gen.bulk_batch(7, 0, **SMALL).objects != gen.bulk_batch(8, 0, **SMALL).objects
    assert gen.realtime_object(7, 3, 300)[1] != gen.realtime_object(8, 3, 300)[1]


def test_bulk_truth_counts_what_the_objects_hold():
    batch = gen.bulk_batch(3, 1, **SMALL)
    lines = [ln for data in batch.objects["okta"].values()
             for ln in gzip.decompress(data).decode().splitlines()]
    parsed = 0
    for ln in lines:
        try:
            json.loads(ln)
            parsed += 1
        except json.JSONDecodeError:
            pass
    assert len(lines) == batch.truth["okta"]["lines"]
    assert parsed == batch.truth["okta"]["good"]
    digests = [n for n in batch.objects["cloudtrail"] if "CloudTrail-Digest" in n]
    assert len(digests) == batch.truth["cloudtrail"]["digest_objects"]
    records = sum(len(json.loads(gzip.decompress(d))["Records"])
                  for n, d in batch.objects["cloudtrail"].items() if "CloudTrail-Digest" not in n)
    assert records == batch.truth["cloudtrail"]["records"]


def _stream_fold(batches):
    """streaming.alerting's fold over micro-batches of (dedupe, ts) matches:
    each batch in time order, anchor, count and last match carried over;
    also checks that the 10-minute watermark drops none of them."""
    thr, window = gen.RULES[gen.BRUTE_FORCE]
    state, newest = {}, None
    for batch in batches:
        if newest is not None:
            assert all(t >= newest - 10 * gen.MIN_US for _, t in batch)
        for ip, t in sorted(batch, key=lambda m: m[1]):
            s = state.get(ip)
            if s is None or t - s["anchor"] >= window:
                s = state[ip] = {"anchor": t, "count": 0}
            s["count"] += 1
            s["last"] = t
        newest = max([t for _, t in batch] + ([newest] if newest else []))
    return {ip: (s["anchor"], s["count"], s["count"] >= thr, s["last"])
            for ip, s in state.items()}


def test_realtime_alerts_carry_state_and_do_not_depend_on_grouping():
    n_obj = 12
    objs = [gen.realtime_object(5, k, 400)[3] for k in range(n_obj)]
    matches = [[(ip, t) for _, ip, t in gen.brute_force_matches(ev)] for ev in objs]
    folded = gen.fold_alerts(gen.brute_force_matches([e for ev in objs for e in ev]))
    assert len({a["dedupe"] for a in folded}) == len(folded), "one alert per key"
    want = {a["dedupe"]: (a["anchor"], a["count"], a["created"] is not None, a["last"])
            for a in folded}
    # a few attack keys cross the threshold only once a later object arrives;
    # the tail stays below it
    first = {}
    for m in matches:
        for ip, c in Counter(ip for ip, _ in m).items():
            first.setdefault(ip, c)
    carried = [ip for ip, c in first.items() if c < 5 and want[ip][2]]
    assert len(carried) >= 3 and all(ip.startswith("198.51.") for ip in carried)
    assert all(not on for ip, (_, _, on, _) in want.items() if ip.startswith("100.64."))
    # some attack failures arrive out of order, up to 8 minutes late
    late = [t for k, m in enumerate(matches) for ip, t in m
            if ip.startswith("198.51.") and t < gen._rt_start(k)]
    assert late and all(gen._rt_start(k) - t <= 8 * gen.MIN_US
                        for k, m in enumerate(matches) for _, t in m)
    for cuts in ([1], [], list(range(1, n_obj)), [3, 4, 9], [2, 7]):
        bounds = [0] + cuts + [n_obj]
        batches = [sum(matches[a:b], []) for a, b in zip(bounds, bounds[1:])]
        assert _stream_fold(batches) == want, cuts


def test_realtime_object_shape():
    _, _, truth, events = gen.realtime_object(5, 2, 400)
    assert truth["good"] == len(events) == 400
    late = [e for e in events if e.ts_us < gen._rt_start(2)]
    assert late, "some events are stamped before the object's minute"
    assert all(e.ts_us % 1000 == 0 for e in events)


def test_fold_opens_new_alert_at_window_end():
    m = gen.MIN_US
    rule = gen.BRUTE_FORCE
    times = [0, 1 * m, 2 * m, 3 * m, 14 * m, 15 * m, 16 * m]
    alerts = gen.fold_alerts([(rule, "1.2.3.4", t) for t in times])
    assert [(a["anchor"], a["count"], a["created"]) for a in alerts] == [
        (0, 5, 14 * m),  # fifth match inside 15 minutes activates
        (15 * m, 2, None),  # anchor + window opens a new alert
    ]


def test_hunt_events_repeat_and_lie_in_the_landed_hours():
    a = gen.hunt_events(5, hours=2, per_hour=500)
    assert a == gen.hunt_events(5, hours=2, per_hour=500)
    assert a != gen.hunt_events(6, hours=2, per_hour=500)
    assert all(gen.HUNT_START <= e.ts_us < gen.HUNT_START + 2 * gen.HOUR_US for e in a)
    alerts = gen.fold_alerts(gen.brute_force_matches(a))
    assert any(x["created"] is not None for x in alerts)
