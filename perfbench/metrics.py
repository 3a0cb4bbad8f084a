"""Metric arithmetic over one run's raw records (pure functions)."""
import math
import statistics

LAYERS = ["graph", "dedup", "text", "sim", "ops", "serve", "jobs",
          "streaming", "lake"]
LAYER_METRICS = {"calls": "count", "wall_s": "s", "eager_s": "s", "idle_s": "s",
                 "jobs": "count", "tasks": "count", "cpu_s": "s", "gc_s": "s",
                 "shuffle_mb": "MB", "spill_mb": "MB", "cpu_util": "fraction",
                 "task_failures": "count"}
CROSS_METRICS = {"edge_tier.build_s": "s", "edge_tier.probe_s": "s",
                 "catalyst.plan_ms": "ms", "catalyst.executions": "count",
                 "scan.files": "count", "scan.mb_read": "MB",
                 "streaming.batches": "count", "streaming.batch_ms": "ms"}
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def supported_percentile(n, tail=10):
    """The highest reported percentile with at least `tail` of `n`
    samples beyond it (None if even the median has fewer)."""
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= tail - 1e-9:
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle(span, intervals):
    """Part of `span` (start, end) during which none of `intervals` runs."""
    s, e = span
    clipped = [(max(a, s), min(b, e)) for a, b in intervals]
    return (e - s) - union_length(clipped)


def cpu_util(cpu_s, wall_s, cores):
    """Executor CPU as a share of the cores' wall time."""
    return cpu_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def spread(values):
    """Distance between the first and third quartile over the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


# task record layout written by the JVM side
STAGE, LAUNCH, FINISH, CPU_NS, GC_MS, SHUF_W, SPILL, FAILED, ATTEMPT = range(9)


def window_tasks(tasks, start_ms, end_ms):
    """Tasks launched and finished inside [start_ms, end_ms]."""
    return [t for t in tasks if t[LAUNCH] >= start_ms - 1 and t[FINISH] <= end_ms + 1]


def attribute_jobs(spans, jobs):
    """span id -> jobs it caused: a job carries its span's id as job group;
    a job started by a thread of graft's own (a streaming query's batches
    carry the query's run id) goes to the one span open when it started."""
    ids = {s["id"] for s in spans}
    out = {i: [] for i in ids}
    for j in jobs:
        if j["group"] in ids:
            out[j["group"]].append(j)
            continue
        owners = [s["id"] for s in spans
                  if s["start"] <= j["start"] <= s["end"]]
        if len(owners) == 1:
            out[owners[0]].append(j)
    return out


def layer_metrics(spans, jobs, tasks, cores):
    """The twelve per-layer metrics for every layer (zero for a layer the
    spans never enter)."""
    by_span = attribute_jobs(spans, jobs)
    stage_job = {st: j["id"] for j in jobs for st in j["stages"]}
    tasks_by_job = {}
    for t in tasks:
        tasks_by_job.setdefault(stage_job.get(t[STAGE]), []).append(t)
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        for s in mine:
            js = by_span[s["id"]]
            ts = [t for j in js for t in tasks_by_job.get(j["id"], [])]
            m["calls"] += 1
            m["wall_s"] += (s["end"] - s["start"]) / 1000.0
            m["eager_s"] += (s["eager_end"] - s["start"]) / 1000.0
            m["idle_s"] += idle((s["start"], s["end"]),
                                [(j["start"], j["end"]) for j in js]) / 1000.0
            m["jobs"] += len(js)
            m["tasks"] += len(ts)
            m["cpu_s"] += sum(t[CPU_NS] for t in ts) / 1e9
            m["gc_s"] += sum(t[GC_MS] for t in ts) / 1000.0
            m["shuffle_mb"] += sum(t[SHUF_W] for t in ts) / 1e6
            m["spill_mb"] += sum(t[SPILL] for t in ts) / 1e6
            m["task_failures"] += sum(1 for t in ts if t[FAILED] or t[ATTEMPT] > 0)
        m["cpu_util"] = cpu_util(m["cpu_s"], m["wall_s"], cores)
        out[layer] = m
    return out
