"""Build file of the benchmark: compiles graft and the harness, and makes
the input tables. Every product is keyed by a hash of its inputs under
`.bench_build/` (or $CARGO_TARGET_DIR) in the checkout, built into a
staging directory and renamed into place, so a repeated call is a no-op
and an interrupted one leaves nothing half-built.

Usage: python3 perfbench/build.py      (run.py calls `ensure()` itself)
"""
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import plan as P  # noqa: E402

HEAP = "2g"
BASE_SF = 0.01   # TPC-H-shaped tables at ~60k lineitem rows
CORPUS_MULT = 4  # graft.ScaleCorpus multiple for corpus_curation

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase
    that the project's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    raise BuildError("cannot locate Spark jars: set SPARK_HOME")


def jvm_opts(heap):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + ["--add-modules", "jdk.incubator.vector",
                   "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
                   "-Dspark.sql.session.timeZone=UTC", f"-Xms{heap}", f"-Xmx{heap}"]


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _atomic(target, make):
    """Run make(staging) and rename staging to target, unless target
    exists; `make` logs to target + '.log'."""
    if os.path.isdir(target):
        return target
    staging = f"{target}.staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    try:
        make(staging)
        os.rename(staging, target)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return target


def _scalac(out, sources, classpath, log):
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", classpath]
    with open(log, "w") as f:
        rc = subprocess.run(cmd + sorted(sources), stdout=f, stderr=subprocess.STDOUT,
                            cwd=ROOT, timeout=800).returncode
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}); see {log}")


def _jar(classes_dir):
    """The compiled classes as a jar: class-data sharing archives only
    classes loaded from jars."""
    target = classes_dir + ".jar"
    if not os.path.isfile(target):
        staging = f"{target}.staging-{os.getpid()}"
        with zipfile.ZipFile(staging, "w", zipfile.ZIP_DEFLATED) as z:
            for p in sorted(glob.glob(os.path.join(classes_dir, "**"), recursive=True)):
                if os.path.isfile(p):
                    z.write(p, os.path.relpath(p, classes_dir))
        os.replace(staging, target)
    return target


def classes():
    """(graft jar, harness jar), compiled if missing."""
    src = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    if not src:
        raise BuildError("no graft sources under src/main/scala")
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    graft = os.path.join(bd, f"graft-{_digest(src)}")
    _atomic(graft, lambda d: _scalac(d, src, None, graft + ".log"))
    hsrc = glob.glob(os.path.join(HERE, "scala", "*.scala"))
    harness = os.path.join(bd, f"harness-{_digest(hsrc, graft)}")
    _atomic(harness, lambda d: _scalac(d, hsrc, graft, harness + ".log"))
    return _jar(graft), _jar(harness)


def fingerprint(data_dir):
    """Content hash of a table directory's files."""
    return _digest([p for p in glob.glob(os.path.join(data_dir, "**"), recursive=True)
                    if os.path.isfile(p)])


def dir_mb(d):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(d, "**"), recursive=True)
               if os.path.isfile(p)) / 1e6


def data(graft_jar):
    """{'base': dir, 'x4': dir}: the generated tables and the ×4 mutated
    corpus graft.ScaleCorpus derives from them, keyed by the base tables'
    fingerprint."""
    bd = os.path.join(build_dir(), "data")
    os.makedirs(bd, exist_ok=True)
    base = _atomic(os.path.join(bd, f"base-{_digest([datagen.__file__], str(BASE_SF))}"),
                   lambda d: datagen.write(d, BASE_SF))

    x4 = os.path.join(bd, f"x{CORPUS_MULT}-{fingerprint(base)}")

    def scale(d):
        tmp = tempfile.mkdtemp(prefix="scale-", dir=build_dir())
        out = os.path.join(d, "tables")
        cmd = (["java"] + jvm_opts("2g") + [f"-Djava.io.tmpdir={tmp}", "-cp",
               f"{graft_jar}:{os.path.join(spark_jars(), '*')}",
               "graft.ScaleCorpus", base, out, str(CORPUS_MULT)])
        try:
            with open(x4 + ".log", "w") as f:
                rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT,
                                    timeout=600,
                                    env=dict(os.environ, SPARK_LOCAL_DIRS=tmp)).returncode
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        if rc != 0:
            raise BuildError(f"graft.ScaleCorpus failed ({rc}); see {x4}.log")
        for name in os.listdir(out):
            os.rename(os.path.join(out, name), os.path.join(d, name))
        os.rmdir(out)

    _atomic(x4, scale)
    return {"base": base, "x4": x4}


def harness_env(run_dir):
    """Environment of a harness JVM: every scratch path inside `run_dir`."""
    return dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local",
                GRAFT_EDGE_TIER_DIR=f"{run_dir}/tier", TMPDIR=f"{run_dir}/tmp")


def harness(products, plan, run_dir, timeout_s, cds_flag=None):
    """Runs the harness JVM on `plan` inside `run_dir` and returns its
    result; raises RuntimeError on failure or timeout (the JVM is killed
    and reaped first)."""
    for d in ("tmp", "local", "tier", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    plan_file = os.path.join(run_dir, "plan.json")
    result_file = os.path.join(run_dir, "result.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    cds_flag = cds_flag or f"-XX:SharedArchiveFile={products['cds']}"
    cp = ":".join([products["harness"], products["graft"],
                   os.path.join(spark_jars(), "*")])
    cmd = (["java", cds_flag] + jvm_opts(HEAP) +
           [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}/tmp",
            "-cp", cp, "graftbench.Main", plan_file, result_file])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                env=harness_env(run_dir), start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.isfile(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM failed ({rc}):\n{tail}")
    with open(result_file) as f:
        return json.load(f)


def train_plan(data, run_dir):
    """A short plan touching both workloads' code paths: the serve set-up
    job and one pass of every batch operation over the base tables."""
    return {"workload": "train", "kind": "batch", "trace": True, "seconds": 0,
            "cores": len(os.sched_getaffinity(0)), "data_dir": data["base"],
            "run_dir": run_dir, "setup": "precompute", "setup_reps": 1,
            "layers": P.LAYER, "oracles": [],
            "ops": [[op, data["base"]] for w in P.WORKLOADS.values()
                    for op, _ in w.get("ops", [])]}


def cds(products):
    """A class-data sharing archive of the classes a harness JVM loads,
    dumped by one training run: it cuts every later JVM's class loading,
    which otherwise dominates a fresh Spark session's start."""
    target = os.path.join(build_dir(), "cds-" + os.path.basename(products["harness"])
                          .replace(".jar", ".jsa"))
    if not os.path.isfile(target):
        staging = f"{target}.staging-{os.getpid()}"
        runs = os.path.join(build_dir(), "runs")
        os.makedirs(runs, exist_ok=True)
        run_dir = tempfile.mkdtemp(prefix="train-", dir=runs)
        try:
            harness(products, train_plan(products["data"], run_dir), run_dir, 600,
                    cds_flag=f"-XX:ArchiveClassesAtExit={staging}")
            os.replace(staging, target)
        except RuntimeError as e:
            raise BuildError(f"class-data sharing training run: {e}")
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            if os.path.exists(staging):
                os.remove(staging)
    return target


def ensure():
    graft, harness_jar = classes()
    products = {"graft": graft, "harness": harness_jar, "data": data(graft)}
    products["cds"] = cds(products)
    return products


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"build: {e}")
