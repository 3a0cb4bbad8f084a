"""Runs the benchmark over several seeds and summarises its steadiness.

    python3 perfbench/repeat.py --workload <name> --seeds 1-10 [--sets 2] [--traced 1]

For each end-to-end metric prints the median and the quartile spread
(distance between first and third quartile over the median, as
`statistics.quantiles(values, n=4)` gives them), the bound from
BENCHMARK.json, and the seconds each run took. With `--sets N` every seed
runs N times in a row, once per set, so drift in box load reaches every
set alike, and each later set's medians are compared with set 1's
against the bounds. With `--traced N` the
first N seeds also get a traced run right after their untraced one, and
the tracing overhead is the median over those seeds of traced wall_s /
untraced wall_s (pairing the runs keeps drift in box load out of it).
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics as M  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    t0 = time.time()
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"run failed: {workload} seed {seed}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1]), time.time() - t0


def latest_artifact(workload, seed, trace):
    pat = os.path.join(build.build_dir(), "results", f"{workload}-seed{seed}-trace{trace}-*.json")
    with open(max(glob.glob(pat), key=os.path.getmtime)) as f:
        return json.load(f)


def summary(name, values, took, bounds):
    print(f"\n{name}: {len(took)} runs, {statistics.median(took):.1f} s median "
          f"per run, {sum(took):.0f} s total")
    for k, vs in values.items():
        sp = M.spread(vs) if len(vs) >= 2 else float("nan")
        b = bounds.get(k)
        flag = "" if b is None or sp < b / 3 else "  <-- over bound/3"
        print(f"  {k:12s} median {statistics.median(vs):10.4g}  spread {sp:.3f}  "
              f"bound {b}{flag}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = [{} for _ in range(a.sets)]
    took = [[] for _ in range(a.sets)]
    ratios = []
    for i, s in enumerate(seeds(a.seeds)):
        for j in range(a.sets):
            res, t = run(a.workload, s, spec["run_seconds"], 0)
            took[j].append(t)
            if not res["correct"]:
                print(f"seed {s}: {res['failed']} of {res['attempted']} failed")
            for k, v in res["metrics"].items():
                values[j].setdefault(k, []).append(v["value"])
            print(f"set {j + 1} seed {s}: {t:.1f} s " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        if i < a.traced:
            run(a.workload, s, spec["run_seconds"], 1)
            traced = latest_artifact(a.workload, s, 1)["end_to_end"]["wall_s"]
            ratios.append(traced / res["metrics"]["wall_s"]["value"])
    for j in range(a.sets):
        summary(f"{a.workload} set {j + 1}", values[j], took[j], bounds)
    if a.sets > 1:
        print(f"\n{a.workload}: median of each later set against set 1")
        for k, vs in values[0].items():
            m1 = statistics.median(vs)
            for j in range(1, a.sets):
                change = statistics.median(values[j][k]) / m1 - 1
                flag = "" if abs(change) <= bounds[k] else "  <-- outside bound"
                print(f"  {k:12s} set {j + 1}/set 1 {1 + change:.3f}  "
                      f"bound {bounds[k]}{flag}")
    if ratios:
        print(f"  tracing overhead (traced / untraced wall_s, {len(ratios)} pairs): "
              f"median {statistics.median(ratios):.3f}, "
              f"range {min(ratios):.3f}-{max(ratios):.3f}")


if __name__ == "__main__":
    main()
