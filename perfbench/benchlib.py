"""Pure helpers of the request benchmark: statistics, the canonical output
fingerprint, and span self-time. No I/O; unit-tested in test_benchlib.py."""
import hashlib
import math


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


TAIL_BEYOND = 10


def tail_percentile(values, beyond=TAIL_BEYOND):
    """The highest percentile of `values` that still has at least `beyond`
    samples above it: the (n - beyond)-th smallest sample, at percentile
    100 * (n - beyond) / n. Returns (percentile, value)."""
    v = sorted(values)
    n = len(v)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for a tail, got {n}")
    return 100.0 * (n - beyond) / n, v[n - beyond - 1]


# ------------------------------------------------------------ fingerprint
def norm(v):
    """tools/check.py's value form, with -0.0 folded into 0.0 so a result is
    not told apart by the sign of a zero."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        s = f"{v:.4f}"
        return "0.0000" if s == "-0.0000" else s
    return str(v)


def canon(cols, rows):
    """Columns sorted by name, values normalised, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def fingerprint(cols, rows):
    h = hashlib.sha256()
    for row in canon(cols, rows):
        h.update("\x01".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()


# ------------------------------------------------------------------ spans
def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(start, a), min(end, b)) for a, b in intervals
                     if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover."""
    return (span["end"] - span["start"]) - covered(
        span["start"], span["end"], [(c["start"], c["end"]) for c in children])


def build_spans(requests, jobs):
    """Request → phase → Spark-job spans with parent links.

    `requests` are timed request records (key, start, build_s, plan_s,
    exec_s); `jobs` are listener job records (key, phase, job, start, end).
    A job's parent is the phase span of the request of its key whose
    interval holds the job's start."""
    spans = []
    phase_of = []
    for i, r in enumerate(requests):
        rid = f"r{i}"
        t = r["start"]
        spans.append(dict(id=rid, parent=None, name=r["key"], kind="request",
                          start=t, end=t + r["build_s"] + r["plan_s"] + r["exec_s"]))
        for ph in ("build", "plan", "exec"):
            d = r[f"{ph}_s"]
            spans.append(dict(id=f"{rid}.{ph}", parent=rid, name=ph, kind="phase",
                              start=t, end=t + d))
            phase_of.append((r["key"], ph, t, t + d, f"{rid}.{ph}"))
            t += d
    for j in jobs:
        parent = next((sid for key, ph, a, b, sid in phase_of
                       if key == j["key"] and ph == j["phase"]
                       and a - 0.005 <= j["start"] <= b + 0.005), None)
        if parent is None:
            continue
        end = j["end"] if j["end"] >= j["start"] else j["start"]
        spans.append(dict(id=f"j{j['job']}", parent=parent, name=f"job {j['job']}",
                          kind="job", start=j["start"], end=end))
    return spans


def self_times(spans):
    """Self time of every span, keyed by span id."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: self_time(s, kids.get(s["id"], [])) for s in spans}
