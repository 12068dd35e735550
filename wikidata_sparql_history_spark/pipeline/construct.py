"""Fused construction plan — the store build's `ranges` and the
minimal-shuffle scale path.

`ranges_plan` composes the stage modules into one plan, as the
reference builds a page's revision ranges in one pass
(RevisionFileConverter.java:128-164): ordering.turn_window →
extract.extract_facts → linking.link_terms over an entity map (link,
then canonicalize, as one broadcast join per column) → per-turn dedup
→ coalesce.islands. `construct_ranges` first builds the map
(canonicalize.entity_map); the store build passes its own. Chaining the
stages as separate tables shuffles the full fact stream at each
boundary; composed, the plan has at most TWO wide exchanges:

  1. hash(conv_id) on the transcripts — serves the turn window;
  2. `repartition(n, conv_id)` on the pandas extractor's output —
     mapInPandas re-keys its output attributes so Catalyst forgets the
     co-location. The builtin extractor keeps them: ONE exchange, in
     whole-stage codegen end-to-end.

Everything after the last exchange is shuffle-free by Spark's subset
rule: `HashPartitioning(conv_id)` satisfies `ClusteredDistribution(
conv_id, …)` for the dedup aggregation, the island window and the
range aggregation. Linking is a broadcast join, which keeps the
streamed side's partitioning. The turns join is gone:
the turn-window columns (pos, next_turn_idx, ts) ride along with each
fact as extractor metadata.

Output is identical to the composable path (extract_triples →
link_mentions → canonicalize_triples → coalesce_ranges over
ordered_turns; tests/test_construct_fused.py) and to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import canonicalize, coalesce, extract, linking, ordering

# ts crosses the Arrow boundary as epoch microseconds: pandas
# timestamp[ns] caps at year 2262, while Spark/our corpus allow wider
# ranges (the reference hits the same issue with year>9999 RDF dates —
# SURVEY.md §1.2 tag 7)
_META = ["conv_id", "turn_idx", "pos", "next_turn_idx", "ts_us"]


def construct_ranges(
    spark: SparkSession,
    transcripts: DataFrame,
    candidates: DataFrame | None = None,
    aliases: DataFrame | None = None,
    use_builtin_extractor: bool = False,
) -> DataFrame:
    """transcripts → coalesced validity ranges (conv_id, subj, pred,
    obj, range_start, range_end, start_ts) — the contract of
    coalesce.coalesce_ranges over the composable stages.

    `use_builtin_extractor=True` swaps the Arrow/pandas extractor for
    the pure-columnar regexp_extract_all+posexplode variant (one
    exchange instead of two). Output identical
    (tests/test_construct_fused.py).
    """
    linked = candidates is not None or aliases is not None
    emap = canonicalize.entity_map(candidates, aliases) if linked else None
    return ranges_plan(spark, transcripts, emap, use_builtin_extractor)


def ranges_plan(
    spark: SparkSession, transcripts: DataFrame, emap: DataFrame | None,
    use_builtin_extractor: bool = False,
) -> DataFrame:
    """`construct_ranges` over a built (term, entity) map, or raw terms
    when `emap` is None."""
    # exchange 1: conv_id clustering for the turn window. The window's
    # ClusteredDistribution makes EnsureRequirements insert the
    # hash(conv_id) exchange at spark.sql.shuffle.partitions — and SKIP
    # it when the input is already hash-partitioned by conv_id
    # (transcripts_from_events and run_pipeline's input are), so the
    # wide `text` column never crosses a shuffle (guide §2.4: remove
    # shuffles outright).
    ordered = ordering.turn_window(
        transcripts,
        # cast: parquet timestamps may arrive as TIMESTAMP_NTZ, which
        # unix_micros rejects; session tz is UTC so the cast is exact
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "text",
    ).select(*_META, "text")

    facts = extract.extract_facts(ordered, _META, builtin=use_builtin_extractor)
    if not use_builtin_extractor:
        # exchange 2: re-establish conv_id co-location after the UDF
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        facts = facts.repartition(n, "conv_id")

    if emap is not None:
        facts = linking.link_terms(facts, emap, ("subj", "obj"))

    # per-turn dedup (linking/canonicalization can merge two mentions
    # into one entity): aggregation on conv_id-prefixed keys — no
    # exchange under the subset rule
    facts = facts.groupBy(
        "conv_id", "subj", "pred", "obj", "turn_idx", "pos", "next_turn_idx"
    ).agg(F.timestamp_micros(F.min("ts_us")).alias("ts"))
    return coalesce.islands(facts)
