"""Where a store build's time goes, job by job, from Spark's event log.

Runs `run_pipeline` over a transcripts parquet the way the kgbench
`store_build` workload does (one local JVM on all cores, a 3g driver,
builtin extractor, the synthetic candidates and aliases, a fresh
output directory), `--builds` times in one JVM, with the event log on
in a temporary directory. Then it prints one line per Spark job:

    build  exec  job  wall_ms  tasks  task_ms  python

`exec` is the job's SQL execution id, `task_ms` the sum of its tasks'
durations, and `python` is `yes` when one of the stages it ran has a
`PythonRDD` among its RDDs: a pickled driver-side relation (or an
RDD-API Python function), whose stage starts Python workers to run.
Pandas-UDF stages also run Python workers but are not counted; the
builtin extractor has none. One summary line per build follows:
its jobs, its wall ms, the ms during which some job was running, the
driver-only rest, and its Python stages.

Usage: python tools/build_jobs.py CORPUS [--builds N]

A corpus like kgbench's (1000 conversations, seed 1) can be written
with `kgbench/workloads.write_corpus(dir, 1000, 1000)`.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def start_spark(log_dir: str):
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"   # as kgbench pins it
    from wikidata_sparql_history_spark.session import get_spark

    return get_spark(
        "build-jobs",
        master=f"local[{nproc}]",
        shuffle_partitions=max(nproc, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",   # one file
            "spark.eventLog.dir": log_dir,
        },
    )


def read_jobs(log_dir: str) -> list[dict]:
    """One dict per job: submit/end ms, SQL execution id, and its run
    stages' task count, task ms and PythonRDD flag. A stage belongs to
    the first job that lists it (later jobs that reuse its shuffle
    skip it)."""
    jobs, owner, stage_python, stage_tasks = {}, {}, {}, {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "job": jid,
                        "start": ev["Submission Time"],
                        "exec": ev.get("Properties", {}).get(
                            "spark.sql.execution.id", "-"),
                    }
                    for sid in ev["Stage IDs"]:
                        owner.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_python[info["Stage ID"]] = any(
                        "PythonRDD" in r.get("Name", "")
                        for r in info["RDD Info"])
                elif kind == "SparkListenerTaskEnd":
                    t = ev["Task Info"]
                    n, ms = stage_tasks.get(ev["Stage ID"], (0, 0))
                    stage_tasks[ev["Stage ID"]] = (
                        n + 1, ms + t["Finish Time"] - t["Launch Time"])
    for j in jobs.values():
        j.update(tasks=0, task_ms=0, python=0)
    for sid, jid in owner.items():
        if sid in stage_python:   # the stage ran (not skipped)
            n, ms = stage_tasks.get(sid, (0, 0))
            jobs[jid]["tasks"] += n
            jobs[jid]["task_ms"] += ms
            jobs[jid]["python"] += stage_python[sid]
    return sorted(jobs.values(), key=lambda j: j["start"])


def busy_ms(intervals) -> int:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("corpus", help="transcripts parquet")
    ap.add_argument("--builds", type=int, default=1,
                    help="builds to run in one JVM (the first is cold)")
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix="build-jobs-")
    log_dir = os.path.join(work, "events")
    os.makedirs(log_dir)
    spark = start_spark(log_dir)
    from wikidata_sparql_history_spark import synth
    from wikidata_sparql_history_spark.pipeline.materialize import run_pipeline

    windows = []
    try:
        for i in range(args.builds):
            out = os.path.join(work, f"store{i}")
            t0 = int(time.time() * 1000)
            run_pipeline(
                spark, spark.read.parquet(args.corpus), out,
                candidates=synth.candidate_dict(spark),
                aliases=synth.alias_edges(spark),
                use_builtin_extractor=True,
            )
            windows.append((t0, int(time.time() * 1000)))
            shutil.rmtree(out)
    finally:
        spark.stop()   # closes the event log
    try:
        jobs = read_jobs(log_dir)
    finally:
        shutil.rmtree(work)

    print("build\texec\tjob\twall_ms\ttasks\ttask_ms\tpython")
    summary = []
    for b, (t0, t1) in enumerate(windows, 1):
        mine = [j for j in jobs if t0 <= j["start"] <= t1]
        for j in mine:
            print(f"{b}\t{j['exec']}\t{j['job']}\t{j['end'] - j['start']}\t"
                  f"{j['tasks']}\t{j['task_ms']}\t"
                  f"{'yes' if j['python'] else 'no'}")
        busy = busy_ms((j["start"], min(j["end"], t1)) for j in mine)
        summary.append(
            f"build {b}: {len(mine)} jobs, {t1 - t0} ms, jobs running "
            f"{busy} ms, driver only {t1 - t0 - busy} ms, python stages "
            f"{sum(j['python'] for j in mine)}")
    print("\n".join(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
