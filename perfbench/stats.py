"""Arithmetic of the benchmark: percentiles, self time, the metrics of one
run, and the comparison verdicts. Pure functions; tested by test_stats.py.
"""

import math
import statistics

# --------------------------------------------------------------- percentiles

CANDIDATE_PERCENTILES = (99, 95, 90, 75, 50)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """Samples strictly past the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100 * n))


def highest_supported(n, min_beyond=10):
    """The highest candidate percentile with at least `min_beyond`
    samples beyond it, or None."""
    for p in CANDIDATE_PERCENTILES:
        if beyond(n, p) >= min_beyond:
            return p
    return None


# ---------------------------------------------------------------- self time

def union_length(intervals, lo, hi):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if e > lo and s < hi and e > s)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, child_intervals):
    """A span's duration minus the part its children cover."""
    return (end - start) - union_length(child_intervals, start, end)


# ------------------------------------------------------------ run metrics

# (module, op) of every op kind, in the order the layers are reported.
KINDS = [("transform", "build"), ("sources", "upsert"), ("sources", "commit"),
         ("transform", "lookup"), ("sources", "asof"), ("sources", "fold"),
         ("sources", "snapshot"), ("ext", "dedup"), ("ext", "rank")]

LAYER_METRICS = [("wall_ms", "ms"), ("self_ms", "ms"), ("planning_ms", "ms"),
                 ("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                 ("cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                 ("output_mb", "MB"), ("exchanges", "count"),
                 ("fs_meta_ops", "count")]

END_TO_END = [("setup_s", "s"), ("ops_ok_frac", "ratio"), ("offheap_peak_mb", "MB"),
              ("op_s_p50", "s")]

# The per-layer metrics every workload reports: layer totals per unit of
# work, each summed from one op-level metric over all measured ops.
LAYER_TOTALS = [("spark.jobs", "count", "jobs"), ("spark.tasks", "count", "tasks"),
                ("spark.task_s", "s", "task_s"), ("spark.cpu_s", "s", "cpu_s"),
                ("spark.shuffle_write_mb", "MB", "shuffle_write_mb"),
                ("spark.spill_mb", "MB", "spill_mb"),
                ("spark.output_mb", "MB", "output_mb"),
                ("plans.planning_ms", "ms", "planning_ms"),
                ("plans.exchanges", "count", "exchanges"),
                ("driver.self_ms", "ms", "self_ms"),
                ("sources.fs_meta_ops", "count", "fs_meta_ops")]

PLANNING_PHASES = ("analysis", "optimization", "planning")


def layer_metric_names():
    return [(name, unit) for name, unit, _ in LAYER_TOTALS] + [("trace.op_s_p50", "s")]


def breakdown_units():
    return ({f"{m}.{k}.{name}": unit for m, k in KINDS for name, unit in LAYER_METRICS}
            | {"sources.upsert.write_amp": "ratio", "ext.dedup.pairs": "count"})


def offheap_peak_mb(record):
    """Peak RSS above the JVM's fixed, pre-touched heap: the memory the
    program uses outside the Java heap (direct buffers, metaspace, code
    cache, thread stacks)."""
    return record["notes"]["rss_peak_mb"] - record["notes"]["heap_mb"]


def end_to_end(record):
    ops = record["ops"]
    failed = sum(1 for o in ops if o["failure"])
    return {
        "setup_s": statistics.median(record["setup_s"]),
        "ops_ok_frac": 1 - failed / len(ops),
        "offheap_peak_mb": offheap_peak_mb(record),
        "op_s_p50": statistics.median(record["units_s"]),
    }


def _walls(ops, kind):
    return [o["wall_s"] for o in ops if o["kind"] == kind and not o["failure"]]


def _median(xs):
    return statistics.median(xs) if xs else None


def detail(record):
    """The workload's own metrics, by name:
    name -> (value or None, unit, samples)."""
    ops = record["ops"]
    wl = record["header"]["workload"]
    failed = sum(1 for o in ops if o["failure"])
    out = {
        "setup_s": (statistics.median(record["setup_s"]), "s", len(record["setup_s"])),
        "ops_failed_frac": (failed / len(ops), "ratio", len(ops)),
        "rss_peak_mb": (record["notes"]["rss_peak_mb"], "MB", 1),
        "offheap_peak_mb": (offheap_peak_mb(record), "MB", 1),
    }

    def rate(kind, key):
        xs = [o["extra"][key] / o["wall_s"] for o in ops
              if o["kind"] == kind and not o["failure"]]
        return _median(xs), len(xs)

    def p50(kind, scale=1.0):
        xs = [w * scale for w in _walls(ops, kind)]
        return _median(xs), len(xs)

    if wl == "build":
        v, n = rate("build", "rows")
        out["build_rows_per_s"] = (v, "1/s", n)
    elif wl == "maintain":
        for name, kind, scale, unit in [("upsert_s_p50", "upsert", 1, "s"),
                                        ("commit_s_p50", "commit", 1, "s"),
                                        ("lookup_ms_p50", "lookup", 1e3, "ms"),
                                        ("asof_ms_p50", "asof", 1e3, "ms"),
                                        ("fold_s", "fold", 1, "s"),
                                        ("snapshot_s", "snapshot", 1, "s")]:
            v, n = p50(kind, scale)
            out[name] = (v, unit, n)
        lookups = [w * 1e3 for w in _walls(ops, "lookup")]
        p = highest_supported(len(lookups))
        if p is not None and p != 50:
            out[f"lookup_ms_p{p}"] = (percentile(lookups, p), "ms", len(lookups))
        out["store_mb"] = (record["notes"]["store_mb"], "MB", 1)
    elif wl == "curate":
        v, n = rate("dedup", "docs")
        out["dedup_docs_per_s"] = (v, "1/s", n)
        v, n = p50("rank")
        out["rank_s_p50"] = (v, "s", n)
    return out


def _op_layers(record):
    """The 12 layer metrics of every measured op, from the traced run's
    spans: [(op, {metric: value})]."""
    trace = record["trace"]
    jobs_by_group = {}
    for j in trace["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)
    out = []
    for o in record["ops"]:
        group = f"op-{o['seq']}"
        jobs = jobs_by_group.get(group, [])
        totals = trace["groups"].get(group, {})
        lo, hi = o["start_ms"], o["end_ms"]
        qs = [q for q in trace["queries"] if lo <= q["start_ms"] <= hi]
        out.append((o, {
            "wall_ms": o["wall_s"] * 1e3,
            "self_ms": self_time(lo, hi, [(j["start_ms"], j["end_ms"])
                                          for j in jobs if j["end_ms"] >= 0]),
            "planning_ms": sum(p["end_ms"] - p["start_ms"] for q in qs
                               for p in q["phases"] if p["phase"] in PLANNING_PHASES),
            "jobs": len(jobs),
            "tasks": totals.get("tasks", 0),
            "task_s": totals.get("task_ms", 0) / 1e3,
            "cpu_s": totals.get("cpu_ns", 0) / 1e9,
            "shuffle_write_mb": totals.get("shuffle_write_bytes", 0) / 1e6,
            "spill_mb": totals.get("spill_bytes", 0) / 1e6,
            "output_mb": totals.get("output_bytes", 0) / 1e6,
            "exchanges": sum(q["exchanges"] for q in qs),
            "fs_meta_ops": o["fs_meta_ops"],
        }))
    return out


def per_layer(record):
    """Layer totals per unit of work, summed over every measured op."""
    per_op = [m for _, m in _op_layers(record)]
    units = len(record["units_s"])
    out = {name: sum(m[src] for m in per_op) / units for name, _, src in LAYER_TOTALS}
    out["trace.op_s_p50"] = statistics.median(record["units_s"])
    return out


def op_breakdown(record):
    """Per-op means of the 12 layer metrics of each op kind the workload
    ran, as `<module>.<op>.<metric>`, plus `sources.upsert.write_amp`
    (upsert output bytes over the delta's bytes as commit writes them)
    and `ext.dedup.pairs` where they apply."""
    per_op = _op_layers(record)
    out = {}
    for module, kind in KINDS:
        mine = [m for o, m in per_op if o["kind"] == kind]
        for name, _ in LAYER_METRICS if mine else ():
            out[f"{module}.{kind}.{name}"] = statistics.mean(m[name] for m in mine)
    if out.get("sources.commit.output_mb") and "sources.upsert.output_mb" in out:
        out["sources.upsert.write_amp"] = (out["sources.upsert.output_mb"]
                                           / out["sources.commit.output_mb"])
    if "dedup_pairs" in record["notes"]:
        out["ext.dedup.pairs"] = record["notes"]["dedup_pairs"]
    return out


# ---------------------------------------------------------------- verdicts

def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    if q3 == q1:
        return 0.0
    return (q3 - q1) / abs(q2) if q2 else math.inf


def _better(a, b, better):
    return a < b if better == "lower" else a > b


def verdict(pairs, better, bound, min_pairs=10):
    """Verdict on one metric of one workload from (parent, change) pairs.

    - "insufficient": fewer than `min_pairs` pairs;
    - "gain": the change wins at least nine tenths of the pairs (ties
      count for neither side) and the medians differ, in its favour, by
      more than the parent's interquartile distance;
    - "not-worse": either side's spread exceeds the bound, but every
      change run reads better than every parent run;
    - "unresolved": either side's spread exceeds the bound otherwise;
    - "regression": the change's median is worse than the parent's by
      more than the bound;
    - "unchanged": otherwise.
    """
    if len(pairs) < min_pairs:
        return "insufficient"
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    wins = sum(1 for p, c in pairs if _better(c, p, better))
    if (wins >= math.ceil(0.9 * len(pairs)) and _better(cmed, pmed, better)
            and abs(cmed - pmed) > pq3 - pq1):
        return "gain"
    if max(spread(parent), spread(change)) > bound:
        if all(_better(c, p, better) for c in change for p in parent):
            return "not-worse"
        return "unresolved"
    worse = (cmed - pmed) if better == "lower" else (pmed - cmed)
    if pmed and worse / abs(pmed) > bound:
        return "regression"
    return "unchanged"


def layer_diff(parent, change, min_share=0.1):
    """Per-layer metrics that moved between two traced runs by more than
    `min_share` of the parent's value (or from zero), largest first:
    [(name, parent, change, share)]."""
    moved = []
    for name in sorted(set(parent) & set(change)):
        p, c = parent[name], change[name]
        if p == c:
            continue
        share = (c - p) / abs(p) if p else math.inf
        if abs(share) > min_share:
            moved.append((name, p, c, share))
    return sorted(moved, key=lambda m: -abs(m[3]))
