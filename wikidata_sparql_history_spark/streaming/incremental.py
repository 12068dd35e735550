"""Incremental / streaming ingestion (SURVEY.md §2.8, §2.3 J7).

The reference is batch-only; its incremental surface is the
inserted/deleted delta indexes plus resumable loading. The idiomatic
Spark paths provided here:

1. `merge_ranges` — the J7 range-union merge: combine an existing
   triples table with ranges from a new batch of turns for the same
   conversations (e.g. a new partition of transcripts landing daily).
   Overlapping/adjacent ranges are merged with a sort + `aggregate`
   HOF fold — no Python, no explode-per-revision blowup.
   (Reference: RocksTripleLoader.java:126-129 + LongRangeUtils.java:34-74.)

2. `stream_extract` — Structured Streaming wrapper: readStream over a
   transcripts directory → the same vectorized extraction as batch
   (`extract.extract_triples` works unmodified on a streaming DF) →
   append sink. Range coalescing needs per-conversation history, so
   the streaming job lands *facts*; a periodic batch `merge_ranges`
   folds them into the triples table (the lambda-architecture cut the
   reference's design implies: deltas are cheap, ranges are batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import LONG_MAX


def merge_range_arrays(col):
    """Expression merging a sorted array<struct<start,end>> that may
    contain overlapping/adjacent ranges into the canonical disjoint
    sorted form (LongRangeUtils.union semantics)."""
    sorted_ranges = F.sort_array(col)
    # fold: carry (acc: array<struct>, cur: struct); merge cur into the
    # last element of acc when cur.start <= last.end (adjacent/overlap)
    return F.aggregate(
        sorted_ranges,
        F.expr(
            "CAST(array() AS array<struct<start:bigint,end:bigint>>)"
        ),
        lambda acc, r: F.when(
            F.size(acc) == 0, F.array(r)
        ).otherwise(
            F.when(
                r["start"] <= F.element_at(acc, -1)["end"],
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(
                        F.struct(
                            F.element_at(acc, -1)["start"].alias("start"),
                            F.greatest(
                                F.element_at(acc, -1)["end"], r["end"]
                            ).alias("end"),
                        )
                    ),
                ),
            ).otherwise(F.concat(acc, F.array(r)))
        ),
    )


def merge_ranges(existing: DataFrame, new_ranges: DataFrame) -> DataFrame:
    """Union an existing array-form triples table with a new batch's
    ranges (array form), merging overlaps per (conv_id, subj, pred,
    obj). A triple left open (end = LONG_MAX) in the old table and
    re-observed in the new batch merges into one continuous range.
    """
    both = existing.select("conv_id", "subj", "pred", "obj", "ranges").unionByName(
        new_ranges.select("conv_id", "subj", "pred", "obj", "ranges")
    )
    flat = both.groupBy("conv_id", "subj", "pred", "obj").agg(
        F.flatten(F.collect_list("ranges")).alias("all_ranges")
    )
    return flat.select(
        "conv_id", "subj", "pred", "obj",
        merge_range_arrays(F.col("all_ranges")).alias("ranges"),
    )


def close_open_ranges_at(existing: DataFrame, boundaries: DataFrame) -> DataFrame:
    """Close still-live ranges (end = LONG_MAX) for day-2 incremental
    ingest: each conversation's open ranges end at THAT conversation's
    first newly-ingested turn (`boundaries` = (conv_id, at_rev)).
    Conversations absent from `boundaries` (no new turns) keep their
    open ranges — closing them would diverge from a from-scratch
    build. One broadcast-sized join; no shuffle of the
    triples table beyond its existing (conv_id, ...) grouping.

    A boundary at or below an open range's start would produce an
    inverted range (end <= start) that `merge_range_arrays` would then
    fold incorrectly — that is always caller misuse (the boundary must
    be the first turn AFTER the already-ingested batch), so it fails
    loudly via raise_error instead of corrupting ranges silently."""
    b = boundaries.select(
        "conv_id", F.col("at_rev").cast("long").alias("_at")
    )

    def _close(r):
        bad = F.raise_error(
            F.concat(
                F.lit("close_open_ranges_at: boundary "),
                F.col("_at").cast("string"),
                F.lit(" <= open range start "),
                r["start"].cast("string"),
                F.lit(" (would invert the range)"),
            )
        ).cast("long")
        return F.struct(
            r["start"].alias("start"),
            F.when(
                r["end"] == LONG_MAX,
                F.when(F.col("_at") > r["start"], F.col("_at")).otherwise(bad),
            )
            .otherwise(r["end"])
            .alias("end"),
        )

    return (
        existing.join(b, "conv_id", "left")
        .withColumn(
            "ranges",
            F.when(F.col("_at").isNull(), F.col("ranges")).otherwise(
                F.transform("ranges", _close)
            ),
        )
        .drop("_at")
    )


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    checkpoint_dir: str,
    output_dir: str,
):
    """Structured Streaming: transcripts dir → extracted facts sink.

    File source + append sink + checkpointing: exactly-once per file.
    The vectorized extractor is reused unmodified — mapInPandas is
    streaming-compatible.
    """
    from ..pipeline.extract import extract_triples

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    facts = extract_triples(stream)
    return (
        facts.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
