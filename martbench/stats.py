"""The benchmark's arithmetic: percentiles, interval unions and self time,
the reduction of one raw run record to its metrics, and the rule that
compares two sets of runs. Pure functions, no I/O; test_stats.py tests them."""

import math
import statistics

# (name, unit) of every end-to-end metric; each workload reports all of them.
# An op is one full build on mart_build, one view query on mart_queries and
# one pass over the sweep's queries on ext_sweep.
END_TO_END = [
    ("setup_s", "s"),
    ("op_geomean_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("rows_per_s", "rows/s"),
]

TAIL_PERCENTILE = 75
TAIL_MIN_BEYOND = 10

BUILD_STEPS = ["synth", "stage", "window", "marts", "dq"]
STEP_METRICS = [
    ("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("busy_s", "s"),
    ("core_util", "ratio"), ("driver_gap_s", "s"), ("plan_ms", "ms"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("exchanges", "count"),
    ("rows_out", "rows"),
]
MARTS = ["dpd_daily", "npl_monthly", "roll_rate_monthly", "cure_rate_monthly",
         "vintage_mob", "writeoff_recovery_monthly", "collections_monthly"]
MART_METRICS = [("wall_s", "s"), ("jobs", "count"), ("shuffle_write_mb", "MB")]
EXT_FAMILIES = ["ext.sim", "ext.graph", "ext.corpus", "ext.text", "dq.profile"]
EXT_METRICS = [
    ("wall_s", "s"), ("jobs", "count"), ("driver_gap_s", "s"), ("plan_ms", "ms"),
    ("shuffle_write_mb", "MB"), ("stage_reuse", "ratio"),
]
CREDIT_METRICS = [
    ("credit.plan_ms_p50", "ms"), ("credit.driver_gap_ms_p50", "ms"),
    ("credit.jobs_per_query", "count"), ("credit.tasks_per_query", "count"),
    ("credit.busy_ms_p50", "ms"),
]

# (name, unit) of every per-layer metric, in the order BENCHMARK.json lists them.
PER_LAYER = (
    [(f"{s}.{m}", u) for s in BUILD_STEPS for m, u in STEP_METRICS]
    + [(f"marts.{t}.{m}", u) for t in MARTS for m, u in MART_METRICS]
    + CREDIT_METRICS
    + [(f"{f}.{m}", u) for f in EXT_FAMILIES for m, u in EXT_METRICS]
    + [("build.self_share", "ratio"), ("trace_overhead", "ratio"), ("task_failures", "count"),
       ("jvm.peak_rss_mb", "MB")]
)

BUILD_SPANS = ("build", "setup_build")
# the spans whose jobs count toward task_failures: every op's outermost span
OP_SPANS = BUILD_SPANS + ("credit", "sweep")
MB = 1 << 20

# The fixed comparison policy of verdict(): pairs needed, and the share of
# them the change must win to count as improved.
MIN_PAIRS = 10
WIN_SHARE = 0.9


def percentile(xs, p):
    """The p-th percentile by linear interpolation between closest ranks
    (rank p/100 * (n - 1), as numpy's default)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = p / 100 * (len(s) - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (rank - lo)


def beyond(xs, p):
    """How many samples lie strictly above the p-th percentile."""
    cut = percentile(xs, p)
    return sum(1 for x in xs if x > cut)


def quartile_spread(xs):
    """Distance between the first and third quartile as a share of the
    median, by statistics.quantiles(n=4)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    t0, t1 = span
    return (t1 - t0) - union_length(clip(children, t0, t1))


def typical_latency(latencies, kinds):
    """The geometric mean over op kinds of each kind's median latency.
    mart_queries mixes 15 query templates whose latencies differ by up to
    10x, so the median of all its ops jumps between templates from run to
    run; the median per template is robust to a one-off slow op, and the
    geometric mean weighs a change to any template by its relative size.
    With one kind (a build, a pass) it is the median op latency."""
    by_kind = {}
    for ms, k in zip(latencies, kinds):
        by_kind.setdefault(k, []).append(ms)
    return statistics.geometric_mean([statistics.median(v) for v in by_kind.values()])


def error_rate(attempted, failed):
    if attempted < 1:
        raise ValueError("no attempted ops")
    return failed / attempted


def end_to_end(raw):
    """The end-to-end metrics of one untraced run record."""
    lat = raw["latencies_ms"]
    busy_s = sum(lat) / 1000
    values = {
        "setup_s": raw["setup_s"],
        "op_geomean_ms": typical_latency(lat, raw["kinds"]),
        "ops_per_s": len(lat) / busy_s,
        "rows_per_s": sum(raw["rows"]) / busy_s,
    }
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def _span_tree(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(i):
        out = [i]
        for k in kids.get(i, []):
            out += subtree(k)
        return out
    return kids, subtree


def span_stats(trace, cores):
    """Per-occurrence layer statistics of every recorded span, keyed by id.
    Jobs count toward the span open when they were submitted and all its
    ancestors; an execution toward the innermost span open when its
    physical planning started."""
    spans = {s["id"]: s for s in trace["spans"]}
    kids, subtree = _span_tree(trace["spans"])
    jobs_by_span = {}
    for j in trace["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    execs_by_span = {}
    for x in trace["execs"]:
        t = x.get("t")
        inner = [s for s in spans.values() if t is not None and s["t0"] <= t <= s["t1"]]
        if inner:
            execs_by_span.setdefault(max(inner, key=lambda s: s["t0"])["id"], []).append(x)
    out = {}
    for i, s in spans.items():
        ids = subtree(i)
        jobs = [j for k in ids for j in jobs_by_span.get(k, [])]
        execs = [x for k in ids for x in execs_by_span.get(k, [])]
        wall_ms = s["t1"] - s["t0"]
        ran = [(j["t0"], j["t1"]) for j in jobs if j.get("t1") is not None]
        busy_ms = sum(j["busy_ms"] for j in jobs)
        out[i] = {
            "name": s["name"],
            "wall_s": wall_ms / 1000,
            "self_s": self_time((s["t0"], s["t1"]),
                                [(spans[k]["t0"], spans[k]["t1"]) for k in kids.get(i, [])]) / 1000,
            "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "busy_s": busy_ms / 1000,
            "core_util": busy_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
            "driver_gap_s": (wall_ms - union_length(clip(ran, s["t0"], s["t1"]))) / 1000,
            "plan_ms": sum(x["plan_ms"] for x in execs),
            "shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / MB,
            "spill_mb": sum(j["spill_bytes"] for j in jobs) / MB,
            "exchanges": sum(x["exchanges"] for x in execs),
            "rows_out": sum(j["records_written"] for j in jobs) + sum(spans[k]["rows"] for k in ids),
            "task_failures": sum(j["failed_tasks"] for j in jobs),
            "stages": sum(j["stages"] for j in jobs),
            "stages_run": sum(min(j["stages_run"], j["stages"]) for j in jobs),
        }
    return out


def per_layer(raw):
    """The per-layer metrics of one traced run record. A layer the
    workload does not run reports 0."""
    st = span_stats(raw["trace_record"], raw["host"]["cores"])
    by_name = {}
    for s in st.values():
        by_name.setdefault(s["name"], []).append(s)

    def med(name, key):
        xs = [s[key] for s in by_name.get(name, [])]
        return statistics.median(xs) if xs else 0.0

    values = {}
    for step in BUILD_STEPS:
        for m, _ in STEP_METRICS:
            values[f"{step}.{m}"] = med(step, m)
    for t in MARTS:
        for m, _ in MART_METRICS:
            values[f"marts.{t}.{m}"] = med(f"marts.{t}", m)
    q = by_name.get("credit", [])
    values.update({
        "credit.plan_ms_p50": med("credit", "plan_ms"),
        "credit.driver_gap_ms_p50": med("credit", "driver_gap_s") * 1000,
        "credit.jobs_per_query": statistics.mean(s["jobs"] for s in q) if q else 0.0,
        "credit.tasks_per_query": statistics.mean(s["tasks"] for s in q) if q else 0.0,
        "credit.busy_ms_p50": med("credit", "busy_s") * 1000,
    })
    # a family's figures per traced pass: its queries' sum over the passes
    passes = len(by_name.get("sweep", []))
    for f in EXT_FAMILIES:
        occ = by_name.get(f, [])
        for m, _ in EXT_METRICS:
            if m == "stage_reuse":
                stages = sum(s["stages"] for s in occ)
                values[f"{f}.{m}"] = 1 - sum(s["stages_run"] for s in occ) / stages if stages else 0.0
            else:
                values[f"{f}.{m}"] = sum(s[m] for s in occ) / passes if passes else 0.0
    builds = [s for n in BUILD_SPANS for s in by_name.get(n, [])]
    values["build.self_share"] = (statistics.median(s["self_s"] / s["wall_s"] for s in builds)
                                  if builds else 0.0)
    on = [ms for ms, t in zip(raw["latencies_ms"], raw["traced"]) if t]
    off = [ms for ms, t in zip(raw["latencies_ms"], raw["traced"]) if not t]
    values["trace_overhead"] = (statistics.median(on) / statistics.median(off) - 1) if on and off else 0.0
    values["task_failures"] = sum(s["task_failures"] for s in st.values() if s["name"] in OP_SPANS)
    values["jvm.peak_rss_mb"] = raw.get("peak_rss_mb", 0.0)
    return {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}


def verdict(parent, change, better, bound, parent_failed=0, change_failed=0):
    """Compares one metric over paired runs (parent[i] ran next to
    change[i]): 'worse' when the change's runs failed more ops than the
    parent's (a failed op's time is missing from the metric, so a change
    that turns slow ops into failures must not look faster); else
    'improved' when the change wins at least WIN_SHARE of the pairs (ties
    count for neither side) and the medians differ by more than the
    parent's quartile distance; otherwise 'unresolved' when there are
    fewer than MIN_PAIRS pairs, or either side's quartile spread exceeds
    the bound and the change does not beat every parent run; otherwise
    'worse' when the change's median is worse than the parent's by more
    than the bound, else 'no worse'."""
    if len(parent) != len(change):
        raise ValueError("runs must come in pairs")
    if change_failed > parent_failed:
        return "worse"
    if len(parent) < MIN_PAIRS:
        return "unresolved"
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, _, q3 = statistics.quantiles(parent, n=4)
    if wins >= WIN_SHARE * len(parent) and abs(mc - mp) > q3 - q1:
        return "improved"
    if max(quartile_spread(parent), quartile_spread(change)) > bound:
        all_better = all(sign * (c - p) > 0 for c in change for p in parent)
        return "no worse" if all_better else "unresolved"
    return "worse" if sign * (mc - mp) < -bound * abs(mp) else "no worse"
