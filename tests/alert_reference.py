"""Pure-Python oracle of the fixed-anchor alert recurrence
(matano_alerts.rs:92-307 semantics), written independently of
matano_spark.operators.alerts so engine tests can compare against it."""

from __future__ import annotations

import datetime as dt
import hashlib

EPOCH = dt.datetime(1970, 1, 1)


def reference_fold(times, threshold, window_s):
    """Fold one key's match times (naive UTC datetimes, any order) into
    alerts: dicts of first, last, n, act, created."""
    alerts = []
    anchor = None
    cur = None
    for t in sorted(times):
        if anchor is None or (t - anchor).total_seconds() >= window_s:
            if cur:
                alerts.append(cur)
            anchor = t
            cur = {"first": t, "last": t, "n": 1, "act": 1 >= threshold,
                   "created": t if 1 >= threshold else None}
        else:
            cur["n"] += 1
            cur["last"] = t
            if not cur["act"] and cur["n"] >= threshold:
                cur["act"] = True
                cur["created"] = t
    if cur:
        alerts.append(cur)
    return alerts


def reference_alert_rows(matches, rule_config):
    """ALERT_SCHEMA tuples for (rule_name, dedupe, ts) matches, each
    rule folded with its rule_config (threshold, window_seconds)."""
    by_key = {}
    for rule, dedupe, ts in matches:
        by_key.setdefault((rule, dedupe), []).append(ts)
    rows = []
    for (rule, dedupe), times in by_key.items():
        for a in reference_fold(times, *rule_config[rule]):
            first_us = (a["first"] - EPOCH) // dt.timedelta(microseconds=1)
            alert_id = hashlib.md5(
                f"{rule}:{dedupe}:{first_us}".encode()
            ).hexdigest()
            rows.append((rule, dedupe, alert_id, a["first"], a["last"],
                         a["n"], a["act"], a["created"]))
    return sorted(rows)
