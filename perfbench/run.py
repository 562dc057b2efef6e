#!/usr/bin/env python3
"""graft's benchmark. BENCHMARK.json at the repository root describes
the workloads and metrics.

  python3 perfbench/run.py --workload sql_mix|kv_ingest_read \
      --seed N --seconds S --trace 0|1

Builds graft and the harness from source (perfbench/build.py), makes
the expected results with DuckDB (perfbench/oracle.py), runs one JVM
(perfbench/src) and prints, as the last line of standard output, one
JSON object: {"correct", "attempted", "failed", "metrics"}. The line
before it carries the run's host state, repository-state guard and
errors. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones.

Extra options, for the smoke test: --data DIR (default: the data
directory graft.Bench uses), --corrupt-expected OP (perturb
one value of OP's expected result before the run).
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("sql_mix", "kv_ingest_read")
# Seconds the JVM may take: each run ends within 180 s of its start.
RUN_LIMIT_S = 170

# JDK 17 module openings Spark needs outside spark-submit (as build.sbt sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def default_data():
    """The data directory graft.Bench reads: $SPARK_GRAFT_SF_DIR, else
    the default Bench.scala names."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    src = os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")
    m = os.path.exists(src) and re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', open(src).read())
    if not m:
        fail("no data directory: set SPARK_GRAFT_SF_DIR")
    return m.group(1)


def corrupt(src_dir, op, dst_dir):
    """Copy the expected results, changing the first number of `op`'s."""
    shutil.rmtree(dst_dir, ignore_errors=True)
    shutil.copytree(src_dir, dst_dir)
    path = os.path.join(dst_dir, f"{op}.json")
    r = json.load(open(path))
    for row in r["rows"]:
        for i, v in enumerate(row):
            if isinstance(v, float):
                row[i] = v + 1.0
                json.dump(r, open(path, "w"))
                return dst_dir
    fail(f"no number to corrupt in {op}'s expected result")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data")
    ap.add_argument("--corrupt-expected")
    a = ap.parse_args()
    started = time.time()

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        fail(f"build: {e}")
    data = a.data or default_data()
    missing = [t for t in oracle.TABLES if not os.path.exists(os.path.join(data, f"{t}.parquet"))]
    if missing:
        fail(f"data directory {data} lacks {missing}")
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(build.build_dir(), "perfbench")
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = classes + os.pathsep + os.path.join(jars, "*")
    java = ["java", "-XX:+UseSerialGC", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main"]

    def jvm(args, log, limit):
        with open(log, "w") as f:
            p = subprocess.Popen(java + args, stdout=f, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = p.wait(timeout=max(limit, 1))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                code = "timeout"
        if code != 0:
            sys.stderr.write(open(log).read()[-6000:])
            fail(f"JVM {args[0]} ended with {code}; log {log}")

    # expected results: the DuckDB oracle of each op, cached per data set
    oracles_json = os.path.join(out, f"oracles-{a.workload}.json")
    stamp = open(os.path.join(out, "classes.stamp")).read()
    if not (os.path.exists(oracles_json + ".stamp") and open(oracles_json + ".stamp").read() == stamp):
        jvm(["oracles", "--workload", a.workload, "--out", oracles_json],
            os.path.join(work, "oracles.log"), 120)
        with open(oracles_json + ".stamp", "w") as f:
            f.write(stamp)
    expected = oracle.ensure(json.load(open(oracles_json)), data, os.path.join(out, "expected"), cores)
    if a.corrupt_expected:
        expected = corrupt(expected, a.corrupt_expected, os.path.join(work, "expected"))

    result_path = os.path.join(work, "result.json")
    jvm(["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--data", data, "--expected", expected, "--work", work,
         "--out", result_path, "--cores", str(cores)],
        os.path.join(work, "run.log"), RUN_LIMIT_S - (time.time() - started))
    r = json.load(open(result_path))
    for d in ("spark-local", "kv", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    detail = {k: v for k, v in r.items() if k not in ("correct", "attempted", "failed", "metrics")}
    detail["log"] = os.path.relpath(os.path.join(work, "run.log"), ROOT)
    print("perfbench " + json.dumps(detail, sort_keys=True))
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
