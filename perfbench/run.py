#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <ingest_backfill|live_tail|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py, cached
under $CARGO_TARGET_DIR or .bench_build), generates the query_mix tables
once (perfbench/gendata.py), runs the workload in one JVM on
local[<cores>], checks every output, and prints one JSON object as the
last line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, from a run that traces part of its ops and reports
the tracing overhead against the rest; its spans are written to
<build_dir>/perfbench/traces/<workload>-seed<n>.jsonl. Everything else
goes to stderr.

Test-only flags: --smoke 1 (tiny inputs), --corrupt range|query (damage
one output so the check must fail).
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gendata  # noqa: E402

WORKLOADS = ("ingest_backfill", "live_tail", "query_mix")
JVM_TIMEOUT_S = 170

# the JDK 17 module openings Spark needs outside spark-submit (build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def data_dir(out, sf):
    """Generated query_mix tables, regenerated when gendata.py changes."""
    with open(gendata.__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(out, "data", f"sf{sf}-{key}")
    if not os.path.isfile(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gendata.write(d, sf)
        open(os.path.join(d, "done"), "w").close()
    return d


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", choices=("", "range", "query"), default="")
    a = p.parse_args()
    if a.seed < 0:
        p.error("--seed must be non-negative")

    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    try:
        cp = build.build(build_dir)
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    out = os.path.join(os.path.abspath(build_dir), "perfbench")
    data = data_dir(out, 0.001 if a.smoke else 0.1)
    work = os.path.join(out, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    traces = os.path.join(out, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")
    cores = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}", f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--smoke", str(a.smoke),
              "--corrupt", a.corrupt,
              "--work", work, "--data", data, "--out", result,
              "--spans", spans])
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                           timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not os.path.isfile(result):
            sys.exit(f"perfbench: run failed (exit {r.returncode})")
        with open(result) as f:
            line = json.dumps(json.load(f), separators=(",", ":"))
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line)


if __name__ == "__main__":
    main()
