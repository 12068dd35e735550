"""End-to-end KG construction job: transcripts → turns + ranges + the
tables derived from them, checkpoint-resumable per stage (SURVEY.md
§3.1 Spark shape, §2.1 S8).

Stages (each an idempotent table write; resume skips completed ones):

  1. turns      — ordered turn metadata (ordering.ordered_turns)
  2. ranges     — coalesced validity ranges, by the fused plan
     (construct.construct_ranges: extract → link → canonicalize →
     gaps-and-islands in one plan, no intermediate tables)
  3. triples    — packed array-form triples table
  4. adjacency  — subj → [(pred, obj)]
  5. dictionary / triples_encoded — the term dictionary (J6) and the
     int64-encoded fact table written ALONGSIDE the string one: the
     reference's on-disk layout is long-encoded (RocksStore.java:
     403-453), and downstream snapshot scans over the encoded table
     compare longs, never strings (plans/encoding.py)
  6. statements / statement_qualifiers / statement_references —
     the reification layer (pipeline/reify.py; only when candidates
     AND aliases are provided, since its terms are linked)

The input's six columns are checked first (`check_input`).

Each piece of work runs once per build:

- the entity map (`canonicalize.entity_map`) is built on first use and
  feeds both the `ranges` plan and the statement occurrences;
- the input is shuffled ONCE, `repartition(shuffle.partitions,
  conv_id)`, and persisted (MEMORY_AND_DISK). `turns`, `ranges` and the
  statement occurrences read the cached scan, which keeps
  hashpartitioning(conv_id), so their conv_id windows and aggregates
  add no exchange over the input;
- the statement occurrences (`reify.statement_occurrences`: segment parse,
  entity-map linking, stmt_id hashing) are persisted once
  (MEMORY_AND_DISK) and feed all three statement tables, which add no
  shuffle of their own on that clustering.

Each persisted frame is filled (one count job) by the first stage that
needs it, before that stage's plan is built: Spark reports a cached
scan's hashpartitioning only once the cache is filled. A resumed build
whose consumers all skip computes neither. Both are released in a
`finally` after the last stage is written, or when a stage fails, as
is the dictionary's localCheckpoint pin (`encoding.release`).

Only the tables a later stage consumes are read back from disk:
`ranges` (triples, adjacency, dictionary, triples_encoded) and
`dictionary` (triples_encoded).

Per-stage seconds and per-partition lineage land in metrics.json next
to the tables (north rule: "per-partition lineage and metrics sinks").
`partition_lineage` maps each of `ranges` / `turns` to {write-task
partition index: rows}, read from the written part files' parquet
footers: it describes the write itself, and costs no Spark job.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import catalog
from . import canonicalize, coalesce, construct, ordering

# the input contract (BASELINE.json input_hint): column → accepted
# types; parquet may read `ts` back as TIMESTAMP_NTZ
_STR = ("string",)
INPUT_TYPES = {"conv_id": _STR, "turn_idx": ("int",), "role": _STR,
               "text": _STR, "tool": _STR, "ts": ("timestamp", "timestamp_ntz")}


@dataclass
class PipelineResult:
    out_dir: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)

    def table(self, spark: SparkSession, name: str) -> DataFrame:
        return catalog.read_table(spark, os.path.join(self.out_dir, name))


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    candidates: DataFrame | None = None,
    aliases: DataFrame | None = None,
    resume: bool = False,
    use_builtin_extractor: bool = False,
) -> PipelineResult:
    """Run (or resume) the full construction pipeline."""
    check_input(transcripts)
    res = PipelineResult(out_dir=out_dir)
    os.makedirs(out_dir, exist_ok=True)

    def stage(name: str, make, sort_by=None, read_back=False):
        path = os.path.join(out_dir, name)
        t0 = time.monotonic()
        if resume and catalog.table_exists(path):
            res.stages_skipped.append(name)
        else:
            catalog.write_table(make(), path, sort_by=sort_by)
            res.stages_run.append(name)
        out = catalog.read_table(spark, path) if read_back else None
        res.metrics[name] = {
            "seconds": round(time.monotonic() - t0, 3),
            "skipped": name in res.stages_skipped,
        }
        return out

    releases = []  # run in the finally below

    def shared(make):
        """`make()` persisted and filled on first use, so stages that
        skip on resume never compute it. Filling before any consumer's
        plan is built matters: Spark reports a cached scan's output
        partitioning only once the cache is filled, and a consumer
        planned earlier re-shuffles the cached rows."""

        @functools.cache
        def get() -> DataFrame:
            df = make().persist(StorageLevel.MEMORY_AND_DISK)
            releases.append(df.unpersist)
            df.count()
            return df

        return get

    # the build's one entity map, built on first use: a resumed build
    # that skips `ranges` and the statement stages builds none
    @functools.cache
    def entity_map() -> DataFrame | None:
        if candidates is None and aliases is None:
            return None
        return canonicalize.entity_map(candidates, aliases)

    # ONE conv_id shuffle of the input: the turn window, the fused
    # ranges plan and the statement occurrences all group by conv_id,
    # and the cached scan keeps hashpartitioning(conv_id), so none of
    # them shuffles the input again
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucketed = shared(lambda: transcripts.repartition(n_buckets, "conv_id"))
    try:
        stage(
            "turns",
            lambda: ordering.ordered_turns(bucketed()),
            sort_by=["conv_id", "pos"],
        )

        # start_ts keeps the input's ts type (the fused plan rebuilds it
        # from epoch micros as TIMESTAMP; parquet inputs may be
        # TIMESTAMP_NTZ)
        ts_type = transcripts.schema["ts"].dataType
        ranges = stage(
            "ranges",
            lambda: construct.ranges_plan(
                spark, bucketed(), entity_map(),
                use_builtin_extractor=use_builtin_extractor,
            ).withColumn("start_ts", F.col("start_ts").cast(ts_type)),
            sort_by=["subj", "pred", "obj"],
            read_back=True,
        )

        stage("triples", lambda: coalesce.to_range_arrays(ranges),
              sort_by=["subj", "pred", "obj"])

        from ..plans import views

        stage("adjacency", lambda: views.adjacency(ranges), sort_by=["subj"])

        from ..plans import encoding

        def build_dictionary():
            d = encoding.build_dictionary(ranges)
            releases.append(lambda: encoding.release(d))
            return d

        dictionary = stage(
            "dictionary", build_dictionary, sort_by=["id"], read_back=True
        )
        stage(
            "triples_encoded",
            lambda: encoding.encode_triples(
                ranges.select(
                    "conv_id", "subj", "pred", "obj", "range_start", "range_end"
                ),
                dictionary,
            ).select(
                "conv_id", "subj_id", "pred_id", "obj_id",
                "range_start", "range_end",
            ),
            sort_by=["subj_id", "pred_id", "obj_id"],
        )

        if candidates is not None and aliases is not None:
            from . import reify

            # one occurrence pass feeds all three statement tables; it
            # stays conv_id-clustered, so the family adds no shuffle
            occurrences = shared(
                lambda: reify.statement_occurrences(bucketed(), entity_map())
            )
            stage(
                "statements",
                lambda: reify.statement_nodes(occurrences()),
                sort_by=["subj", "pred", "obj"],
            )
            stage(
                "statement_qualifiers",
                lambda: reify.statement_qualifiers(occurrences()),
                sort_by=["stmt_id"],
            )
            stage(
                "statement_references",
                lambda: reify.statement_references(occurrences()),
                sort_by=["stmt_id"],
            )
    finally:
        for release in releases:
            release()

    _write_metrics(res)
    return res


def check_input(transcripts: DataFrame) -> None:
    """Raise ValueError naming the first `INPUT_TYPES` column that is
    missing or mistyped, before any job runs (a string `turn_idx` would
    build, ordering '10' before '9')."""
    got = {f.name: f.dataType.simpleString() for f in transcripts.schema}
    for name, want in INPUT_TYPES.items():
        if got.get(name) not in want:
            raise ValueError(f"transcripts column {name!r} is "
                             f"{got.get(name, 'missing')}, expected "
                             f"{' or '.join(want)}")


def _write_metrics(res: PipelineResult) -> None:
    """Metrics + per-partition lineage sink (S8/A7 analog of the
    reference's 1M-row progress logging, RocksTripleLoader.java:73-89).

    Lineage is read from the written part files' parquet footers, so
    it describes the write itself: rows per write-task partition index
    (one key per part file unless a task split its output across
    files), with no Spark job.
    """
    lineage = {}
    for name in ("ranges", "turns"):
        path = os.path.join(res.out_dir, name)
        if catalog.table_exists(path):
            rows: dict[str, int] = {}
            for f in sorted(os.listdir(path)):
                if f.startswith("part-") and f.endswith(".parquet"):
                    n = pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                    part = str(int(f.split("-")[1]))  # part-NNNNN-...
                    rows[part] = rows.get(part, 0) + n
            lineage[name] = rows
    payload = {
        "stages_run": res.stages_run,
        "stages_skipped": res.stages_skipped,
        "stage_metrics": res.metrics,
        "partition_lineage": lineage,
    }
    with open(os.path.join(res.out_dir, "metrics.json"), "w") as f:
        json.dump(payload, f, indent=2)
