"""Summary math shared by the runner and the spread check."""
import statistics


def median(values):
    return statistics.median(values)


def spread(values):
    """inter-quartile distance as a share of the median, the way the
    benchmark's acceptance check reads ten runs"""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def covered(intervals):
    """total length of the union of (start, end) intervals"""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> its duration minus the part of it its children cover;
    spans are dicts with id, parent, start and end"""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        inside = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                  for c in kids.get(s["id"], [])]
        inside = [(a, b) for a, b in inside if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - covered(inside)
    return out


def self_time_by_name(spans):
    """name -> (count, total duration, total self time)"""
    st = self_times(spans)
    out = {}
    for s in spans:
        n, d, own = out.get(s["name"], (0, 0.0, 0.0))
        out[s["name"]] = (n + 1, d + s["end"] - s["start"], own + st[s["id"]])
    return out
