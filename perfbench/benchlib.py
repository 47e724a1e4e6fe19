"""Pure helpers of the benchmark: percentiles, span arithmetic, spreads,
/proc/stat deltas and record comparison. No Spark, no subprocesses."""

import statistics

# Percentiles the benchmark may report, lowest first.
PERCENTILES = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values):
    """The highest percentile in PERCENTILES that has at least MIN_BEYOND
    samples beyond it, as (percentile, value); None when even the median
    has fewer than MIN_BEYOND samples above it."""
    n = len(values)
    best = None
    for p in PERCENTILES:
        if n * (100 - p) >= MIN_BEYOND * 100 - 1e-6:
            best = (p, quantile(values, p / 100))
    return best


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def assign_parents(spans):
    """Give every span whose parent is None the innermost other span of the
    same run that contains it (jobs, sink calls and listener callbacks are
    recorded without knowing their parent). Returns the spans."""
    by_run = {}
    for s in spans:
        by_run.setdefault(s["run"], []).append(s)
    for group in by_run.values():
        # candidates sorted by duration so the first container is innermost
        cands = sorted((c for c in group if c["kind"] != "job"),
                       key=lambda c: c["end"] - c["start"])
        for s in group:
            if s.get("parent") is not None:
                continue
            for c in cands:
                if c is s or c["end"] - c["start"] < s["end"] - s["start"]:
                    continue
                if c["start"] <= s["start"] and s["end"] <= c["end"]:
                    s["parent"] = c["id"]
                    break
    return spans


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children (each child clipped to the parent)."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_ms(kids)
    return out


def self_time_by_kind(spans):
    """Summed self time (ms) per span kind."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["kind"]] = out.get(s["kind"], 0) + st[s["id"]]
    return out


def coverage(spans, parent_kind, child_kinds):
    """For each span of parent_kind: the summed duration of its direct
    children of child_kinds as a share of its own duration."""
    kids = {}
    for s in spans:
        if s["kind"] in child_kinds and s.get("parent") is not None:
            kids[s["parent"]] = kids.get(s["parent"], 0) + (s["end"] - s["start"])
    return [kids.get(s["id"], 0) / (s["end"] - s["start"])
            for s in spans if s["kind"] == parent_kind and s["end"] > s["start"]]


def spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def read_proc_stat(path="/proc/stat"):
    """Aggregate CPU jiffies from the first line of /proc/stat, or None."""
    try:
        with open(path) as f:
            fields = f.readline().split()
    except OSError:
        return None
    if not fields or fields[0] != "cpu":
        return None
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    vals = [int(x) for x in fields[1:1 + len(names)]]
    return dict(zip(names, vals + [0] * (len(names) - len(vals))))


def cpu_shares(before, after):
    """Steal and idle shares of all CPU time between two read_proc_stat
    snapshots."""
    if not before or not after:
        return {"steal": None, "idle": None}
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values())
    if total <= 0:
        return {"steal": None, "idle": None}
    return {"steal": d["steal"] / total, "idle": (d["idle"] + d["iowait"]) / total}


class IncomparableRecords(Exception):
    pass


def compare(a, b):
    """Relative change of each shared end-to-end metric from record a to
    record b. Records from machines with different CPU counts measure
    different engines (local[nproc]) and are refused."""
    pa, pb = a["provenance"], b["provenance"]
    if pa["nproc"] != pb["nproc"]:
        raise IncomparableRecords(
            f"nproc differs ({pa['nproc']} vs {pb['nproc']}): records are not comparable")
    if a["workload"] != b["workload"]:
        raise IncomparableRecords(f"workloads differ ({a['workload']} vs {b['workload']})")
    if pa.get("size") != pb.get("size"):
        raise IncomparableRecords(f"input sizes differ ({pa.get('size')} vs {pb.get('size')})")
    out = {}
    for name, m in a["end_to_end"].items():
        if name in b["end_to_end"] and m["value"]:
            out[name] = b["end_to_end"][name]["value"] / m["value"] - 1
    return out
