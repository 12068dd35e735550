"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster at 100 TB; tested on local[N].
All knobs are env-overridable so bench.py can run the identical job at
two parallelism levels (local[8] vs local[32]) for the scaling-
efficiency measurement.

`local_relation` builds every driver-side relation a session needs
(the canonical alias map, SPARQL seeds and VALUES) without a Python
worker. `release_checkpoint` drops the blocks a `localCheckpoint()`
pinned.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory(phys_bytes: int) -> str:
    """Driver heap for a host with `phys_bytes` of RAM: half of it,
    capped at 48g. Half leaves room for the python workers and the
    JVM's off-heap memory; a larger heap than the host can back gets
    the JVM OOM-killed instead of spilling."""
    return f"{min(MAX_DRIVER_MEM_MB, phys_bytes // 2 // 2**20)}m"


def get_spark(
    app_name: str = "kg-construct",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # Rule of thumb: shuffle partitions ~ cores on local mode; on a real
    # cluster this is set to 2-3x total executor cores (or left to AQE
    # coalescing from a high initial value).
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching. Replaces the reference's
        # hand-tuned cardinality model (HistoryEvaluationStatistics.java).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for all pandas UDF / toPandas paths (north rule: batched
        # Arrow transfer, no per-row Python). Bigger batches amortize
        # the JVM↔python handoff; env-tunable for the scaling bench.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
        )
        # Every mapInPandas task = 1 JVM thread + 1 python worker; on a
        # fully-loaded host, accounting 2 cpus per task stops the 2x
        # oversubscription that stalled 8→32 scaling of the pandas path
        # (the all-JVM path should keep the default 1).
        .config(
            "spark.task.cpus", os.environ.get("SPARK_GRAFT_TASK_CPUS", "1")
        )
        # pin worker reuse explicitly (default true, but the scaling
        # measurement depends on it: rep N must not respawn workers)
        .config("spark.python.worker.reuse", "true")
        # Parquet scan tuning: 128 MB splits keep ~100k tasks for 100 TB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Keep driver UI off in the sandbox.
        .config("spark.ui.enabled", "false")
        # UTC so timestamp literals round-trip identically vs the
        # DuckDB oracle (naive timestamps).
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] = one JVM: driver memory IS executor memory. Size it
        # so 11M-row shuffles sort in memory instead of spilling
        # (UnsafeExternalSorter spills were the 8→32 scaling wall).
        .config("spark.driver.memory", driver_mem)
    )
    # shuffle/spill scratch on tmpfs when available: /tmp here is
    # ext4-on-virtio and its bandwidth flat-lines multi-core shuffles
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_ARROW_TYPES = {"string": pa.string(), "long": pa.int64()}


def local_relation(spark: SparkSession, names, rows, typ: str) -> DataFrame:
    """Driver-built `rows` as a relation with one `typ` column
    ("string" or "long") per name. Every relation the package builds
    from driver-side rows goes through here.

    The rows go to Spark as a `pyarrow.Table`, which PySpark sends
    through Arrow whatever `spark.sql.execution.arrow.pyspark.enabled`
    says, so the relation plans as a LocalTableScan: no job, no Python
    worker. A Python list, and a pandas frame when that conf is off
    (a session built outside `get_spark`, e.g. by spark-submit) or the
    frame is empty, go through a pickled RDD that plans as `Scan ExistingRDD` and runs a
    Python-worker stage in every plan that reads it. An empty `rows`
    and a None cell (NULL, also on a long column) keep the same path."""
    cols = list(zip(*rows)) or [()] * len(names)
    return spark.createDataFrame(pa.table(
        [pa.array(c, _ARROW_TYPES[typ]) for c in cols], names=list(names)))


def release_checkpoint(checkpointed: DataFrame) -> None:
    """Drop the blocks `checkpointed = df.localCheckpoint()` pinned;
    Spark frees them only when the JVM garbage-collects the plan. Call
    it once every consumer of `checkpointed` has run: the frame cannot
    be evaluated afterwards."""
    checkpointed._jdf.queryExecution().logical().rdd().unpersist(False)
