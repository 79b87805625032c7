#!/usr/bin/env python3
"""ETL benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), runs the workload in a
fresh JVM at local[nproc], checks every unit's output (and, for
the gate-query probe of a traced drift_full_load run, one pass against the
DuckDB oracle), and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics below; with --trace 1 the
per-layer profile. The line before it is the full report (every end-to-end
metric the workload has, the session config, the generator's record and
the calibration loop). The exit code is nonzero when any check fails.
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

WORKLOADS = ("drift_full_load", "cdc_stream")

# the end-to-end metrics every workload reports with --trace 0 (BENCHMARK.json)
END_TO_END = ("setup_s", "cold_run_s", "run_p50_s", "cpu_s_per_run", "live_heap_peak_mb")

# JDK 17 module opens Spark needs outside spark-submit (as build.sbt sets)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# the driver heap build.sbt gives `sbt run` and the test JVMs
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
RUN_TIMEOUT_S = 170


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def java_command(classes, main_class, main_args, work):
    """The JVM command for a harness main, with its temporary files in `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            main_class, *main_args]


def run_jvm(classes, args, work, out, log_path, deadline):
    cmd = java_command(classes, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out], work)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main(argv):
    args = parse_args(argv)
    start = time.monotonic()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out = os.path.join(out_dir, f"{tag}.json")
    log_path = os.path.join(out_dir, f"{tag}.log")
    if os.path.exists(out):
        os.remove(out)
    try:
        # the limit starts after the build, which only the first run in a
        # checkout pays
        deadline = time.monotonic() + RUN_TIMEOUT_S
        code = run_jvm(classes, args, work, out, log_path, deadline)
        if code != 0 or not os.path.isfile(out):
            why = "timed out" if code is None else f"exited with {code}"
            with open(log_path) as f:
                tail = f.read()[-3000:]
            print(f"[perfbench] JVM {why}; log tail:\n{tail}", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if os.path.isfile(os.path.join(res["oracle_dir"], "oracle_sql.json")):
            attempted += 1
            import oracle
            bad = oracle.compare(res["oracle_dir"])
            if bad:
                failed += 1
                failures += bad
        e2e = res["end_to_end"]
        if args.trace == 0:
            metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]}
                       for k in END_TO_END}
        else:
            metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in sorted(res["per_layer"].items())}
        correct = failed == 0 and all(
            isinstance(m["value"], (int, float)) for m in metrics.values())
        report = {k: res.get(k) for k in (
            "workload", "seed", "trace", "config", "generator", "calib_s", "calib_drift",
            "session_s", "workload_setup_s", "warm_units_s", "loop_s", "run_tail_s_omitted",
            "trace_units", "anti_joins")}
        report["end_to_end"] = e2e
        report["failures"] = failures
        report["wall_s"] = time.monotonic() - start
        print(json.dumps(report))
        for msg in failures:
            print(f"[perfbench] FAIL {msg}", file=sys.stderr)
        if res["calib_drift"] > 0.1:
            print(f"[perfbench] the calibration loop moved by {res['calib_drift']:.2f} of "
                  "itself during the run: the box's speed changed", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
