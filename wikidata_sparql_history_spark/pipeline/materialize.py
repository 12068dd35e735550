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
  6. entity_terms — entity term rows (pipeline/terms.py)
  7. statements / statement_qualifiers / statement_references —
     the reification layer (pipeline/reify.py; only when candidates
     AND aliases are provided, since its terms are linked)

Per-partition lineage + metrics land in metrics.json next to the
tables (north rule: "per-partition lineage and metrics sinks").
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import catalog
from . import coalesce, construct, ordering


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
    res = PipelineResult(out_dir=out_dir)
    os.makedirs(out_dir, exist_ok=True)

    def stage(name: str, make, sort_by=None):
        path = os.path.join(out_dir, name)
        t0 = time.monotonic()
        if resume and catalog.table_exists(path):
            res.stages_skipped.append(name)
        else:
            df = make()
            catalog.write_table(df, path, sort_by=sort_by)
            res.stages_run.append(name)
        out = catalog.read_table(spark, path)
        res.metrics[name] = {
            "seconds": round(time.monotonic() - t0, 3),
            "skipped": name in res.stages_skipped,
        }
        return out

    # explicit conv_id hash bucketing: the turn window, the fused ranges
    # plan and the statement layer all group by conv_id, so one
    # up-front repartition serves every stage that reads the input
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucketed = transcripts.repartition(n_buckets, "conv_id")

    stage(
        "turns", lambda: ordering.ordered_turns(bucketed), sort_by=["conv_id", "pos"]
    )

    # start_ts keeps the input's ts type (the fused plan rebuilds it
    # from epoch micros as TIMESTAMP; parquet inputs may be TIMESTAMP_NTZ)
    ts_type = transcripts.schema["ts"].dataType
    ranges = stage(
        "ranges",
        lambda: construct.construct_ranges(
            spark, bucketed, candidates, aliases,
            use_builtin_extractor=use_builtin_extractor,
        ).withColumn("start_ts", F.col("start_ts").cast(ts_type)),
        sort_by=["subj", "pred", "obj"],
    )

    stage("triples", lambda: coalesce.to_range_arrays(ranges),
          sort_by=["subj", "pred", "obj"])

    from ..plans import views

    stage("adjacency", lambda: views.adjacency(ranges), sort_by=["subj"])

    from ..plans import encoding

    dictionary = stage(
        "dictionary", lambda: encoding.build_dictionary(ranges), sort_by=["id"]
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

    from . import terms as terms_mod

    # terms emission rides the ranges table (RdfBuilder emits entity
    # terms into the same RDF output stream, RdfBuilder.java:205-217)
    stage(
        "entity_terms",
        lambda: terms_mod.entity_terms(ranges),
        sort_by=["entity", "term_type"],
    )

    if candidates is not None and aliases is not None:
        from . import reify

        # the reified occurrence table feeds all three statement
        # outputs; compute it once per run (lazy plan, each stage's
        # write triggers it — the parse is extraction-shaped and cheap
        # relative to a redundant coalesce pass)
        occurrences = reify.reify_statements(bucketed, candidates, aliases)
        stage(
            "statements",
            lambda: reify.statement_nodes(occurrences),
            sort_by=["subj", "pred", "obj"],
        )
        stage(
            "statement_qualifiers",
            lambda: reify.statement_qualifiers(occurrences),
            sort_by=["stmt_id"],
        )
        stage(
            "statement_references",
            lambda: reify.statement_references(occurrences),
            sort_by=["stmt_id"],
        )

    _write_metrics(spark, res, transcripts_count=None)
    return res


def _write_metrics(spark: SparkSession, res: PipelineResult, **extra) -> None:
    """Metrics + per-partition lineage sink (S8/A7 analog of the
    reference's 1M-row progress logging, RocksTripleLoader.java:73-89).
    """
    lineage = {}
    for name in ("ranges", "turns"):
        path = os.path.join(res.out_dir, name)
        if catalog.table_exists(path):
            df = catalog.read_table(spark, path)
            per_part = (
                df.groupBy(F.spark_partition_id().alias("partition"))
                .count()
                .collect()
            )
            lineage[name] = {str(r["partition"]): r["count"] for r in per_part}
    payload = {
        "stages_run": res.stages_run,
        "stages_skipped": res.stages_skipped,
        "stage_metrics": res.metrics,
        "partition_lineage": lineage,
        **{k: v for k, v in extra.items() if v is not None},
    }
    with open(os.path.join(res.out_dir, "metrics.json"), "w") as f:
        json.dump(payload, f, indent=2)
