#!/usr/bin/env python3
"""Seeded benchmark of the graft engine: one workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest [--seed N]

Run from the repository root. The engine and the benchmark are compiled from
source into .bench_build/ (see build.py), then one JVM runs the workload on
local[nproc] with a pinned heap and result-size limit, so every commit makes the
same broadcast-vs-sharded placement decision. The last stdout line is one JSON
object: correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). README.md describes the
workloads, layers and metrics.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "3g"                 # the triangle auto-select derives its budget from
MAX_RESULT_SIZE = "1g"      # both of these, so both are pinned
MIN_FREE_BYTES = 4 << 30
TIMEOUT_S = 170
DEFAULT_SEED = 42
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

# Spark on JDK 17 needs these when the session is built outside spark-submit
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

PLACEMENT = re.compile(r"auto-selecting the (?:per-vertex )?sharded kernel \((\d+) shards")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def fresh_run_dir():
    """Empty the run directory (Spark local dir, temp dir, generated input)."""
    run_dir = os.path.abspath(os.path.join(build.BUILD_DIR, "run"))
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("spark-local", "tmp", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    free = shutil.disk_usage(run_dir).free
    if free < MIN_FREE_BYTES:
        fail(f"only {free / 2**30:.1f} GiB free under {run_dir}; "
             f"the benchmark needs {MIN_FREE_BYTES / 2**30:.0f} GiB for shuffle files and its input")
    return run_dir


def java_command(classes, run_dir, main_args):
    jars = os.path.join(build.spark_jars(), "*")
    # no hsperfdata file in the system temp dir: the run writes only under the checkout
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData"] + ADD_OPENS + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.driver.maxResultSize={MAX_RESULT_SIZE}",
        # bounded status-store retention: the live heap is then not a function
        # of how many passes fit into the run
        "-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
        "-Dspark.ui.retainedTasks=5000", "-Dspark.sql.ui.retainedExecutions=20",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-cp", f"{os.path.abspath(classes)}{os.pathsep}{jars}",
        "perfbench.Main"] + main_args)


def child_env():
    """The environment minus anything that would override the pinned deployment."""
    return {k: v for k, v in os.environ.items()
            if not (k.startswith("SPARK_") and k != "SPARK_HOME")
            and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")}


def run_jvm(cmd, log_path):
    """Run the JVM with its stderr in `log_path`; return its PERFBENCH record."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=child_env())
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"timed out after {TIMEOUT_S} s; log in {log_path}")
    records = [line[len("PERFBENCH "):] for line in out.splitlines() if line.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not records:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        fail(f"the benchmark JVM exited with {proc.returncode}; log in {log_path}")
    return json.loads(records[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that each generator repeats its input for a seed and changes it for another")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    metric_specs = spec["per_layer"] if args.trace else spec["end_to_end"]
    classes = build.build()
    run_dir = fresh_run_dir()
    log_path = os.path.join(run_dir, "jvm.log")
    n = cores()

    if args.selftest:
        rec = run_jvm(java_command(classes, run_dir, ["selftest", "--seed", str(args.seed), "--cores", str(n)]),
                      log_path)
        print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"], "failed": rec["failed"]}))
        sys.exit(0 if rec["correct"] else 1)

    with open(EXPECTED) as f:
        expected = json.load(f).get(args.workload, {}) if args.seed == DEFAULT_SEED else {}
    load_before = load1()
    main_args = ["run", "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(n),
                 "--work", os.path.join(run_dir, "work"),
                 "--expect", ",".join(f"{k}={v}" for k, v in sorted(expected.items()))]
    # the launch time goes last so that JVM start-up counts toward setup_s
    rec = run_jvm(java_command(classes, run_dir, main_args + ["--launch-ms", str(int(time.time() * 1000))]),
                  log_path)
    load_after = load1()

    with open(log_path) as log:
        shards = [int(s) for s in PLACEMENT.findall(log.read())]
    values = dict(rec["metrics"], **({"placement.shards": float(max(shards, default=0))} if args.trace else {}))
    missing = [m["name"] for m in metric_specs if values.get(m["name"]) is None]
    if missing:
        fail(f"no value for {', '.join(missing)}")
    contended = (load_before > n / 4) or rec["info"]["spread_contended"]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cores": n, "trace": args.trace,
                      "load1_before": load_before, "load1_after": load_after, "contended": contended,
                      "placement_shards": max(shards, default=0), "warm_samples": rec["info"]["warm_samples"],
                      "log": log_path}), file=sys.stderr)
    print(json.dumps({
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metric_specs},
    }))


if __name__ == "__main__":
    main()
