# Failed authentication, deduped per source IP. Same logic as the shipped
# data/detections/login_brute_force_by_ip/detect.py, written so that it
# never takes the truth value of event.category: under mapInPandas that
# value is a numpy array, and `array or []` raises for arrays of two or
# more elements. The membership test goes through list() because the
# predicate compiler turns `x in field` into a string contains(), which
# fails analysis on an array column; list() makes the rule untraceable,
# so it runs on the Python row loop.


def detect(r):
    if r.deepget("event.outcome") != "failure":
        return False
    categories = r.deepget("event.category")
    if categories is None:
        return False
    return "authentication" in list(categories)


def title(r):
    return (
        f"Multiple failed logins for {r.deepget('user.name')} "
        f"from {r.deepget('source.ip')}"
    )


def dedupe(r):
    return r.deepget("source.ip")
