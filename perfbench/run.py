#!/usr/bin/env python3
"""graft benchmark: one command per run, from the root of a checkout.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py) into the
build directory ($CARGO_TARGET_DIR, default .bench_build), starts one JVM
that sets up a Spark session and runs the workload (perfbench.Main), checks
the outputs, and prints every metric by name and unit. The last line of
stdout is the JSON result: with --trace 0 the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run, whose full trace is
written to <build dir>/traces/.

  python3 perfbench/run.py --record-expected

re-records perfbench/expected.json (row counts and digests) from the
current code. Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("sql-graph", "fraud-stream")
BATCH = ("sql-graph",)
DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected.json"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_OPTS = ["-Xmx3g", "-Xss8m", "-XX:TieredStopAtLevel=1", "-Duser.timezone=UTC",
            "-Dspark.sql.session.timeZone=UTC"] + [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def run_jvm(classes, jars, out, workload, seed, seconds, trace, deadline):
    """Runs perfbench.Main once; returns the raw record."""
    work = out / "work" / ("%s-%d-%d" % (workload, seed, trace))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw = work / "raw.json"
    cp = os.pathsep.join([str(classes), str(jars / "*")])
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + str(work / "tmp"),
                                 "-cp", cp, "perfbench.Main",
                                 "--workload", workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", str(trace),
                                 "--data", str(DATA), "--work", str(work),
                                 "--out", str(raw)]
    with open(work / "jvm.log", "w") as log:
        try:
            subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True,
                           timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("run timed out; log in %s" % (work / "jvm.log"))
        except subprocess.CalledProcessError as e:
            fail("run exited with %d; log in %s" % (e.returncode, work / "jvm.log"))
    record = json.loads(raw.read_text())
    shutil.rmtree(work, ignore_errors=True)
    return record


def record_expected(classes, jars, out):
    queries = {}
    for w in BATCH:
        rec = run_jvm(classes, jars, out, w, 0, 0, 0, time.time() + RUN_TIMEOUT_S)
        for c in rec["checks"]:
            if "error" in c:
                fail("%s threw %s" % (c["query"], c["error"]))
            queries[c["query"]] = {"rows": c["rows"],
                                   "digest": c["digest"] if c["oracle"] else None}
    EXPECTED.write_text(json.dumps(
        {"data": "perfbench/data/sf0.01 (generated with seed 42)",
         "queries": dict(sorted(queries.items()))}, indent=1) + "\n")
    print("wrote %s (%d queries)" % (EXPECTED, len(queries)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()
    start = time.time()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail("no engine sources under ./src/main/scala/graft; run from the repo root")
    jars = build.spark_jars(root)
    if not jars.is_dir():
        fail("no Spark jars at %s; set SPARK_HOME" % jars)
    out = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = (root / out).resolve()
    out.mkdir(parents=True, exist_ok=True)
    try:
        classes = build.build(root, out, BUILD_TIMEOUT_S)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired):
        fail("build failed; log in %s" % (out / "build.log"))

    if args.record_expected:
        return record_expected(classes, jars, out)
    if args.workload is None:
        fail("--workload is required")
    built = time.time()
    record = run_jvm(classes, jars, out, args.workload, args.seed, args.seconds,
                     args.trace, built + RUN_TIMEOUT_S)

    if args.workload in BATCH:
        expected = json.loads(EXPECTED.read_text())["queries"]
        e2e, attempted, failed, notes = metrics.batch_end_to_end(record, expected)
    else:
        e2e, attempted, failed, notes = metrics.stream_end_to_end(record)
    for n in notes:
        print("FAILED " + n)
    print("workload %s  seed %d  data %s (seed 42)  local[%d]  build %.1f s" % (
        args.workload, args.seed, DATA.relative_to(root), record["cpus"], built - start))
    for name, (value, unit) in e2e.items():
        print("%-34s %14.4f %s" % (name, value, unit))
    print("%-34s %14.4f ratio (%d of %d failed)" % (
        "error_rate", failed / attempted, failed, attempted))

    if args.trace:
        layers = metrics.per_layer(record)
        for name, value in layers.items():
            print("%-34s %14.4f" % (name, value))
        traces = out / "traces"
        traces.mkdir(exist_ok=True)
        table = metrics.query_table(record, metrics.jobs_of(record))
        if table:
            print("%-32s %8s %5s %9s %9s %8s" % (
                "query", "wall_s", "jobs", "job_sum_s", "job_uni_s", "overlap"))
            for q, r in table.items():
                print("%-32s %8.3f %5d %9.3f %9.3f %8.2f" % (
                    q, r["wall_s"], r["jobs"], r["job_sum_s"], r["job_union_s"], r["overlap"]))
        path = traces / ("%s-seed%d.json" % (args.workload, args.seed))
        path.write_text(json.dumps(dict(record, per_layer=layers, queries_table=table)))
        print("trace written to %s" % path)
        result = {k: {"value": v, "unit": metrics.layer_unit(k)}
                  for k, v in layers.items()}
    else:
        result = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))


if __name__ == "__main__":
    main()
