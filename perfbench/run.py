#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload, one seed, one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl-discover --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from source with sbt (once per
source state; the build goes under $CARGO_TARGET_DIR, default
`.bench_build`), runs the workload in one JVM at local[4] (a traced crawl
also at local[1]), checks the outputs outside the timed part, and prints as
its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (`--trace 0`) or every
per-layer metric (`--trace 1`). The line before it holds the full record of
the run: every op, warm-up included, and the ambient CPU and io sentinel
readings. Each run's record is also kept under `<build>/results/`, and a
traced run's spans under `<build>/traces/`. All scratch state (corpus, lakes,
spark.local.dir) lives in `<build>/work/` and is removed when the run ends.
Exits non-zero when any correctness check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170
# per-layer metric prefixes of layers a workload does not drive; they read 0
IDLE_LAYERS = {
    "crawl-discover": ("registry.",),
    "curate-registry": ("crawl.", "lake.", "operators.", "functions.", "ml.", "seen."),
}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build(build_dir):
    """Compile with sbt unless the classes already match the sources."""
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "perfbench", "source.sha256")
    classes = os.path.join(build_dir, "perfbench", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    log("building engine + benchmark driver with sbt")
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(build_dir, "perfbench"))
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def run_jvm(classes, args, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        sys.exit("perfbench: SPARK_HOME must name the Spark install")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
            "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    timed_out = False
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        timed_out = True
    noise = [l for l in err.splitlines() if l.startswith("[perfbench]") or "Exception" in l]
    for line in noise[-40:]:
        print(line, file=sys.stderr)
    if timed_out:
        sys.exit(f"perfbench: workload did not finish within {JVM_TIMEOUT_S} s")
    rec = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not rec:
        sys.stderr.write(err[-4000:])
        sys.exit(f"perfbench: workload JVM failed (exit {proc.returncode})")
    return json.loads(rec[-1][len("PERFBENCH "):])


def oracle_check(data_dir, out_dir):
    """Each registry result must equal DuckDB running its oracle SQL, as a
    multiset: bin/check_oracle.py's compare. Returns (checked, failed names)."""
    n = len(json.load(open(os.path.join(out_dir, "oracle_sql.json"))))
    r = subprocess.run([sys.executable, os.path.join(ROOT, "bin", "check_oracle.py"), data_dir, out_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    failed = [l.split()[1] for l in r.stdout.splitlines() if l.startswith(("FAIL ", "ERR "))]
    if r.returncode != 0:
        log(r.stdout[-2000:])
        if not failed:  # the script itself failed: one failed check
            failed = ["check_oracle.py"]
    return n, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.exists(bench_path):
        sys.exit("perfbench: run from a repository checkout (engine sources not found)")
    bench = json.load(open(bench_path))
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload!r}")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(build_dir)

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    params = dict(workloads[a.workload])
    if "data_dir" in params:
        params["data_dir"] = os.path.join(HERE, params["data_dir"])
    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
            os.path.join(build_dir, "traces")] + [f"{k}={v}" for k, v in params.items()]
    try:
        t0 = time.time()
        rec = run_jvm(classes, args, work)
        if a.workload == "curate-registry":
            n, bad = oracle_check(params["data_dir"], os.path.join(work, "oracle"))
            rec["attempted"] += n
            rec["failed"] += len(bad)
            rec["checks"].append({"check": "duckdb_oracle", "cores": 4, "pass": not bad, "failed": bad})
        rec["wall_s"] = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace)
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}.json"), "w") as fh:
        json.dump(rec, fh)

    metrics = {}
    for m in bench["per_layer" if a.trace else "end_to_end"]:
        name = m["name"]
        if name in rec["metrics"]:
            value = rec["metrics"][name]
        elif a.trace and name.startswith(IDLE_LAYERS[a.workload]):
            value = 0.0  # this workload does not drive that layer
        else:
            sys.exit(f"perfbench: metric {name} missing from {a.workload}")
        metrics[name] = {"value": value, "unit": m["unit"]}
    correct = rec["failed"] == 0 and rec["attempted"] > 0
    print(json.dumps({k: rec[k] for k in ("workload", "seed", "trace", "summary", "ambient", "checks", "reps", "wall_s")}))
    print(json.dumps({"correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
