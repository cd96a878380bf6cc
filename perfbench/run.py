#!/usr/bin/env python3
"""ORBIT benchmark: one command for every workload.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Builds the engine plus the benchmark (perfbench/build.py), then runs the
workload in its own JVM against seeded inputs generated from the sf0.1
tables ($SPARK_GRAFT_SF_DIR, default ~/testdata/sf0.1, only read). The
run's Spark local dirs and artifacts live in a scratch directory under
.bench_build that is removed afterwards. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones (spans are kept in .bench_build/traces). See
perfbench/GLOSSARY.md for what each workload and metric means.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    sys.stderr.write("orbitbench: %s\n" % msg)
    sys.exit(2)


def heap():
    """Heap from MemTotal as the tier-1 tests size it: half, 2g..8g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def data_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser(os.path.join("~", "testdata", "sf0.1"))
    for t in ("documents", "embeddings"):
        if not os.path.exists(os.path.join(d, t + ".parquet")):
            fail("input table %s.parquet not found under %s" % (t, d))
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail("BENCHMARK.json unreadable: %s" % e)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload %r" % a.workload)
    try:
        _, classpath = build.build()
    except build.BuildError as e:
        fail("build failed: %s" % e)
    data = data_dir()
    t_start = time.time()  # the run limit excludes compiling

    scratch = os.path.join(ROOT, ".bench_build", "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(scratch, sub))
    result_file = os.path.join(scratch, "result.json")
    spans_file = os.path.join(ROOT, ".bench_build", "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # every file the JVM writes stays under the run's scratch directory
    cmd += ["-Xmx" + heap(), "-Xss8m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.local.dir=" + os.path.join(scratch, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(scratch, "warehouse"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(scratch, "tmp"),
            "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
            "-cp", classpath, "orbitbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--scratch", os.path.join(scratch, "work"),
            "--result", result_file, "--spans", spans_file]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_EXTRA_CONF"}
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    try:
        if rc is None:
            fail("run exceeded %d s" % RUN_LIMIT_S)
        if rc != 0 or not os.path.exists(result_file):
            fail("benchmark JVM exited with %s" % rc)
        with open(result_file) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None and a.trace:
            # a layer this workload does not call: no work, no time
            got = {"value": 0.0, "unit": m["unit"]}
        if got is None or got["value"] is None:
            fail("metric %s missing from the %s run" % (m["name"], a.workload))
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    failed_frac = res["failed"] / float(res["attempted"])
    print("workload %s  seed %d  trace %d  nproc %s  heap %s MB  spark %s" % (
        a.workload, a.seed, a.trace, res["info"]["nproc"], res["info"]["heap_mb"],
        res["info"]["spark_version"]))
    for name, m in sorted(metrics.items()):
        print("  %-36s %14.6g %s" % (name, m["value"], m["unit"]))
    # figures printed but not gated (they restate a gated one)
    for name, m in sorted(res["metrics"].items()):
        if name not in metrics and m["value"] is not None:
            print("  %-36s %14.6g %s  (not gated)" % (name, m["value"], m["unit"]))
    print("  %-36s %14.6g %s  (not gated)" % ("failed_frac", failed_frac, "fraction"))
    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
