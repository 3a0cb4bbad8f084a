"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from the checkout's sources (cached under
`.bench_build/`), makes the inputs, runs the workload in a fresh JVM with
its own scratch directory, checks every output against DuckDB, and prints
one JSON object as the last line of standard output: the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). A
self-describing artifact of the run is written to
`.bench_build/results/`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import metrics as M  # noqa: E402
import plan as P  # noqa: E402

JVM_TIMEOUT_S = 150
REQUEST_POOL = 2000  # requests generated per serve run; the loop stops earlier


def cores():
    return len(os.sched_getaffinity(0))


def make_plan(name, seed, seconds, trace, data, run_dir):
    w = P.WORKLOADS[name]
    plan = {"workload": name, "kind": w["kind"], "trace": bool(trace),
            "seconds": seconds, "cores": cores(), "data_dir": data["base"],
            "run_dir": run_dir, "setup": w["setup"], "setup_reps": P.SETUP_REPS,
            "layers": P.LAYER}
    if w["kind"] == "batch":
        plan["ops"] = [[op, data[d]] for op, d in P.op_order(seed, w["ops"])]
        plan["oracles"] = sorted({op for op, _ in w["ops"]})
    else:
        plan["oracles"] = sorted(oracle for _, _, oracle, _ in P.REPORTS.values())
        plan["requests"] = P.request_stream(seed, REQUEST_POOL)
        # the warm-up burst comes from its own stream, so it never repeats
        # the timed requests
        plan["burst"] = P.request_stream(-1 - seed, w["burst"])
        plan["clients"] = w["clients"]
        plan["min_requests"] = w["min_requests"]
    return plan


def check_outputs(plan, result):
    """(attempted, failed, failures) after comparing against DuckDB."""
    recs = result["records"]
    if plan["kind"] == "batch":
        failures = {}
        for data_dir in sorted({d for _, d in plan["ops"]}):
            ops = {op for op, d in plan["ops"] if d == data_dir}
            memo = os.path.join(build.build_dir(), "data",
                                os.path.basename(data_dir) + ".oracle.json")
            bad = check.check_ops(check.connect(data_dir), result, memo, ops)
            failures.update({op: why for op, why in bad.items() if why})
        failed = sum(1 for r in recs if r["op"] in failures)
        return len(recs), failed, failures
    # each set-up is one operation: it fails if any cache it wrote differs
    # from the cache's oracle
    caches = os.path.join(plan["run_dir"], "caches")
    memo = os.path.join(build.build_dir(), "data",
                        os.path.basename(plan["data_dir"]) + ".oracle.json")
    con = check.connect(plan["data_dir"])
    failures = {}
    for rep in range(plan["setup_reps"]):
        for cache, (_, _, oracle, _) in sorted(P.REPORTS.items()):
            sql = result["oracle_sql"].get(oracle)
            why = "no oracle" if sql is None else check.check_table(
                con, os.path.join(caches, f"rep{rep}", cache),
                P.cache_sql(cache, sql), memo)
            if why:
                failures[f"setup{rep}/{cache}"] = why
    setup_failed = len({k.split("/")[0] for k in failures})
    cache_dir = os.path.join(caches, f"rep{plan['setup_reps'] - 1}")
    for r in recs:
        why = r["error"] if not r["ok"] else check.check_request(
            con, plan["requests"][r["req"]], r["rows"], cache_dir)
        if why:
            failures[f"req{r['req']}"] = why
    failed = setup_failed + sum(1 for k in failures if k.startswith("req"))
    return len(recs) + plan["setup_reps"], failed, failures


def end_to_end(plan, result):
    """(latency sample count, end-to-end metrics) of an untraced run."""
    tasks = result["tasks"]

    def cpu(start, end):
        return sum(t[M.CPU_NS] for t in M.window_tasks(tasks, start, end)) / 1e9

    timed = result["timed"]
    timed_s = (timed["end"] - timed["start"]) / 1000.0
    if plan["kind"] == "batch":
        walls = [(p["end"] - p["start"]) / 1000.0 for p in result["passes"]]
        cpus = [cpu(p["start"], p["end"]) for p in result["passes"]]
        wall_s, cpu_s = statistics.median(walls), statistics.median(cpus)
        # a batch request is one submission of the whole operation list
        lat = [w * 1000.0 for w in walls]
    else:
        recs = [r for r in result["records"] if r["ok"]]
        lat = [r["end"] - r["start"] for r in recs]
        # per block of `min_requests` requests at the loop's measured rate
        scale = plan["min_requests"] / max(len(recs), 1)
        wall_s = timed_s * scale
        cpu_s = cpu(timed["start"], timed["end"]) * scale
    n = len(lat)
    lat = lat or [0.0]  # nothing completed: the run is already reported failed
    return n, {
        "setup_s": result["session_s"] + statistics.median(result["setup_reps_s"])
        + result["burst_s"],
        "wall_s": wall_s,
        "cpu_s": cpu_s,
        "peak_rss_mb": result["peak_rss_mb"],
        "req_p50_ms": M.percentile(lat, 50),
        "req_p95_ms": M.percentile(lat, 95),
        "req_per_s": n / timed_s,
    }


UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
         "req_p50_ms": "ms", "req_p95_ms": "ms", "req_per_s": "1/s"}


def per_layer(plan, result):
    """Every per-layer and cross-cutting metric, as name -> value: layers
    over the first pass (batch) or the first `min_requests` requests
    (serve) plus the set-up's job spans, so that counts repeat exactly for
    a given seed; cross-cutting metrics over the same window. A layer or
    tier the workload never enters reads 0."""
    spans = result["spans"]
    if plan["kind"] == "batch":
        p0 = result["passes"][0]
        keep = [s for s in spans if s["parent"] == "pass0"]
        start, end = p0["start"], p0["end"]
    else:
        n = plan["min_requests"]
        keep = [s for s in spans if s["parent"].startswith("req")
                and int(s["parent"][3:]) < n]
        start = result["timed"]["start"]
        end = max([s["end"] for s in keep] or [result["timed"]["end"]])
    keep += [s for s in spans if s["parent"] == "setup"]
    # jobs of spans outside the window (warm-up burst, later requests) must
    # not fall through to attribution by time
    dropped = {s["id"] for s in spans} - {s["id"] for s in keep}
    jobs = [j for j in result["jobs"] if j["group"] not in dropped]
    out = {f"{layer}.{k}": v for layer, ms in M.layer_metrics(
        keep, jobs, result["tasks"], plan["cores"]).items()
        for k, v in ms.items()}
    out["edge_tier.build_s"] = statistics.median(result["edge_tier_build_s"] or [0.0])
    out["edge_tier.probe_s"] = statistics.median(result["edge_tier_probe_s"] or [0.0])
    ex = [e for e in result["executions"] if start <= e["start"] <= end]
    out["catalyst.plan_ms"] = float(sum(e["plan_ms"] for e in ex))
    out["catalyst.executions"] = len(ex)
    out["scan.files"] = sum(e["files"] for e in ex)
    out["scan.mb_read"] = sum(e["bytes"] for e in ex) / 1e6
    sb = [b for b in result["stream_batches"] if start <= b["at"] <= end]
    out["streaming.batches"] = len(sb)
    out["streaming.batch_ms"] = float(sum(b["ms"] for b in sb))
    return out


def commit():
    """The checkout's commit, or None outside a git work tree (the search
    stops at the checkout's root)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(build.ROOT))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, env=env,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(P.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    load0 = os.getloadavg()[0]
    phase = {"start": time.time()}
    try:
        products = build.ensure()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        sys.exit(f"perfbench: build failed: {e}")
    runs = os.path.join(build.build_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    try:
        plan = make_plan(a.workload, a.seed, a.seconds, a.trace,
                         products["data"], run_dir)
        phase["build"] = time.time()
        result = build.harness(products, plan, run_dir, JVM_TIMEOUT_S)
        phase["jvm"] = time.time()
        attempted, failed, failures = check_outputs(plan, result)
        phase["check"] = time.time()
        samples, e2e = end_to_end(plan, result)
        layers = per_layer(plan, result) if a.trace else {}
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if a.trace:
        units = dict(M.CROSS_METRICS, **{f"{layer}.{k}": u for layer in M.LAYERS
                                         for k, u in M.LAYER_METRICS.items()})
        shown = {k: {"value": v, "unit": units[k]} for k, v in sorted(layers.items())}
    else:
        shown = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "commit": commit(),
        "graft_build": os.path.basename(products["graft"]),
        "inputs_mb": {os.path.relpath(d, build.ROOT): round(build.dir_mb(d), 2)
                      for d in products["data"].values()},
        "nproc": cores(), "host_cpus": os.cpu_count(),
        "loadavg_1m": [load0, os.getloadavg()[0]],
        "context": result["context"], "canaries_s": result["canaries"],
        "canary_floor_s": sum(result["canaries"].values()),
        "phase_s": {k: round(phase[k] - phase[j], 3) for j, k in
                    (("start", "build"), ("build", "jvm"), ("jvm", "check"))},
        "session_s": result["session_s"], "setup_reps_s": result["setup_reps_s"],
        "burst_s": result["burst_s"],
        "op_ms": [[r.get("op", r.get("req")), r.get("pass", r.get("client")),
                   round(r["end"] - r["start"], 1) if r["ok"] else None,
                   round(sum(t[M.CPU_NS] for t in M.window_tasks(
                       result["tasks"], r["start"], r["end"])) / 1e9, 3)
                   if plan["kind"] == "batch" else None]
                  for r in result["records"] if "start" in r],
        "passes": len(result["passes"]), "attempted": attempted,
        "failed": failed, "failures": failures,
        "error_rate": failed / max(attempted, 1),
        "latency_samples": samples,
        "supported_percentile": M.supported_percentile(samples),
        "end_to_end": e2e, "per_layer": layers,
        "spans": [{k: s[k] for k in ("id", "parent", "name", "start", "end")}
                  for s in result["spans"]],
    }
    out_dir = os.path.join(build.build_dir(), "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}.json"
    json.dump(artifact, open(os.path.join(out_dir, name), "w"), indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()
