#!/usr/bin/env python3
"""Repository benchmark: store build, warm SPARQL serving and day-2
delta ingest, each checked for correctness.

Run from the repository root:

    python3 kgbench/run.py --workload store_build --seed 1 --seconds 10 --trace 0

`--trace 0` measures with tracing off and prints every end-to-end
metric of BENCHMARK.json; `--trace 1` traces every operation and prints
every per-layer metric (layers a workload does not run report 0). The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the line before
it is a JSON report of the deployment settings and sample counts.

Everything the run writes stays under `.kgbench/` in the checkout; the
Spark JVM it starts is stopped and waited for before exit. Exit codes:
0 all checks passed, 1 a check or operation failed, 2 the product could
not be loaded.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Deployment settings, pinned so every run and every commit measures the
# same configuration: one local JVM on all cores of the host.
DRIVER_MEM = "3g"
# Conversations in the generated corpus (about 11.5 turns each). Sized
# so that 22 runs of each workload plus 4 fit in 3420 s on a 4-core
# host; every stage of the store build still runs.
N_CONV = 1000
# Corpus generation is repeated this many times per run and setup_s
# takes the median; the store a workload needs is built once (a cold
# build costs ~20 s here, and 22 runs per workload share one time budget).
SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("store_build", "sparql_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="operation time to measure (whole rounds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--convs", type=int, default=N_CONV,
                    help="conversations in the generated corpus")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one row from each operation's output before "
                         "its check (tests that the checks catch it)")
    return ap.parse_args(argv)


def code_rev() -> str:
    """Hash of the package source (the checkout is not a git repo)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "wikidata_sparql_history_spark")
    for dirpath, _, names in sorted(os.walk(pkg)):
        for name in sorted(names):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(workload: str, work: str):
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # both JVMs spark-submit starts keep their temp files in the
        # work dir (no hsperfdata under /tmp)
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = tmp
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
              "SPARK_GRAFT_ARROW_BATCH", "SPARK_GRAFT_TASK_CPUS",
              "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    from wikidata_sparql_history_spark.session import get_spark

    return get_spark(
        f"kgbench-{workload}",
        master=f"local[{nproc}]",
        shuffle_partitions=max(nproc, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    ), nproc


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def deployment(spark, nproc: int) -> dict:
    jvm = spark.sparkContext._jvm
    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "local_dir": os.path.relpath(conf.get("spark.local.dir"), ROOT),
        "nproc": nproc,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "code_rev": code_rev(),
    }


def measure(wl, tracer, seconds: float) -> dict:
    """Closed loop, one client: run whole rounds of operations until
    `seconds` of operation time is measured. Checks run between
    operations, outside the timed region."""
    lat, labels, traced_res, overhead = [], [], [], []
    attempted = failed = 0
    per_round = wl.ops_per_round()
    i = 0
    while True:
        first_span, cost0 = len(tracer.spans), tracer.cost_s
        t0 = time.perf_counter()
        try:
            res = wl.op(i, tracer.enabled)
            err = None
        except Exception:  # an operation that raises is a failed operation
            res, err = None, traceback.format_exc()
        lat.append(time.perf_counter() - t0)
        labels.append(res["label"] if res else "raised")
        overhead.append(tracer.cost_s - cost0)
        attempted += 1
        if res is not None:
            try:
                err = wl.check(res)
            except Exception:
                err = traceback.format_exc()
            if err is None and tracer.enabled:
                tracer.attribute(tracer.spans[first_span:])
                traced_res.append(res)
            wl.discard(res)
        if err is not None:
            failed += 1
            print(f"kgbench: {wl.name} operation {i} FAILED: {err}",
                  file=sys.stderr)
        i += 1
        if sum(lat) >= seconds and i % per_round == 0:
            break
    by_label = {}
    for label, dt in zip(labels, lat):
        by_label.setdefault(label, []).append(dt * 1000)
    return {"lat": lat, "traced_res": traced_res, "overhead": overhead,
            "attempted": attempted, "failed": failed,
            "p50_ms_by_label": {k: statistics.median(v) for k, v in by_label.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(1, ROOT)   # the product package, beside the script dir
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        import pyspark  # noqa: F401
        import wikidata_sparql_history_spark  # noqa: F401
    except ImportError as e:
        print(f"kgbench: cannot load the product: {e}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".kgbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.perf_counter()
    spark, nproc = start_spark(args.workload, work)
    jvm_start_s = time.perf_counter() - t0
    wl = None
    try:
        from spans import Tracer
        from workloads import WORKLOADS

        tracer = Tracer(spark.sparkContext, False)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed,
                                      args.convs, args.corrupt)
        gen_reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.generate()
            gen_reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        setup_s = jvm_start_s + statistics.median(gen_reps) + prepare_s

        tracer.enabled = bool(args.trace)
        run = measure(wl, tracer, args.seconds)
        tracer.enabled = False
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb(jvm_pid)
        lat = run["lat"]
        p50_ms = statistics.median(lat) * 1000
        report = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "convs": args.convs,
            "conv_offset": wl.offset, "items_per_op": wl.items_per_op,
            "deployment": deployment(spark, nproc),
            "jvm_start_s": jvm_start_s, "generate_reps_s": gen_reps,
            "prepare_s": prepare_s, "ops": len(lat),
            "op_fail_rate": run["failed"] / run["attempted"],
            "op_p50_ms": p50_ms,
            "op_p50_ms_by_kind": run["p50_ms_by_label"],
            "peak_rss_mb": rss,
        }
        if len(lat) >= 100:  # p90 has >= 10 samples beyond it
            report["op_p90_ms"] = statistics.quantiles(lat, n=10)[-1] * 1000
        if args.trace:
            layer = wl.per_layer(run["traced_res"])
            layer["trace.overhead_ms"] = statistics.median(run["overhead"]) * 1000
            tracer.dump(os.path.join(
                base, f"spans-{args.workload}-seed{args.seed}.json"))
            metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                                   "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            values = {
                "setup_s": setup_s,
                "op_p50_ms": p50_ms,
                "throughput_per_s": wl.items_per_op * len(lat) / sum(lat),
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        result = {
            "correct": run["failed"] == 0,
            "attempted": run["attempted"],
            "failed": run["failed"],
            "metrics": metrics,
        }
    finally:
        if wl is not None:
            wl.close()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
