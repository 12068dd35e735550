"""Temporal snapshot views over the `ranges` table (SURVEY.md §2.2
P5/P6, §2.3 J5, §2.5 W4).

The reference exposes history through named graphs
(rev:global/r, rev:additions/r, rev:deletions/r —
RocksTripleSource.java:107-139). Here each is a cheap declarative view
over `ranges`, one row per coalesced validity range
(conv_id, subj, pred, obj, range_start, range_end, ...). The
revision-metadata magic predicates are compiled in `sparql.py` /
`sql_surface.py` over `turns`; `global_state_at_ts` is the as-of
lookup over that table.

All predicates are plain column comparisons → Catalyst pushes them to
the parquet scan (min/max pruning on range_start/range_end when the
table is sorted on write).

Array-form variants (`*_arrays`) consume the packed
array<struct<start,end>> triples table with higher-order `exists`
(LongRangeUtils.java:7-32 analogs). `revision_test` defines each of
those tests once; the `*_arrays` views and the served triple index
(`triple_index`, one row per distinct triple) both read it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..pipeline.coalesce import to_range_arrays


# --- range-row form (primary) --------------------------------------------

def state_at(ranges: DataFrame, rev: int) -> DataFrame:
    """Triples live at revision `rev`: ∃ range with start ≤ rev < end.
    (LongRangeUtils.isInRange, RocksTripleSource.java:264-268)"""
    return ranges.filter(
        (F.col("range_start") <= rev) & (F.lit(rev) < F.col("range_end"))
    ).select("conv_id", "subj", "pred", "obj")


def additions_at(ranges: DataFrame, rev: int) -> DataFrame:
    """Triples added exactly at `rev` (isRangeStart)."""
    return ranges.filter(F.col("range_start") == rev).select(
        "conv_id", "subj", "pred", "obj"
    )


def deletions_at(ranges: DataFrame, rev: int) -> DataFrame:
    """Triples deleted exactly at `rev` (isRangeEnd)."""
    return ranges.filter(F.col("range_end") == rev).select(
        "conv_id", "subj", "pred", "obj"
    )


# --- array form (packed triples table, served triple index) --------------

def revision_test(kind: str, rev: int) -> Column:
    """∃ range in the `ranges` array column that passes `kind`'s test at
    revision `rev` — "state": start ≤ rev < end, "additions":
    start = rev, "deletions": end = rev (isInRange / isRangeStart /
    isRangeEnd, RocksTripleSource.java:264-268). Keyed like sparql.py's
    GRAPH kinds; every array-form revision filter goes through here."""
    test = {
        "state": lambda r: (r.start <= rev) & (F.lit(rev) < r.end),
        "additions": lambda r: r.start == rev,
        "deletions": lambda r: r.end == rev,
    }[kind]
    return F.exists("ranges", test)


def state_at_arrays(triples: DataFrame, rev: int) -> DataFrame:
    return triples.filter(revision_test("state", rev)).select(
        "conv_id", "subj", "pred", "obj"
    )


def additions_at_arrays(triples: DataFrame, rev: int) -> DataFrame:
    return triples.filter(revision_test("additions", rev)).select(
        "conv_id", "subj", "pred", "obj"
    )


def deletions_at_arrays(triples: DataFrame, rev: int) -> DataFrame:
    return triples.filter(revision_test("deletions", rev)).select(
        "conv_id", "subj", "pred", "obj"
    )


def triple_index(ranges: DataFrame) -> DataFrame:
    """The served store's SPO index (RocksStore.java:109-159): one row
    per distinct (subj, pred, obj) with the sorted
    array<struct<start,end>> of its ranges in every conversation.

    `sparql.evaluate(index=)` reads the default graph as its
    (subj, pred, obj) and a GRAPH <rev:…/N> context as the rows passing
    `revision_test`: both are sets by construction, so a query plans
    no distinct over `ranges`.

    Lifetime: built with one eager localCheckpoint when a serving front
    door loads the store. `cli --serve` drops it at EOF or `exit`
    (`session.release_checkpoint`); `web.make_app` keeps it for the
    app's lifetime. One-shot `cli -q` builds none: its one query reads
    `ranges`, filtered before its distinct. The checkpoint has no
    lineage, so if an executor holding its blocks is lost, every later
    query over it fails until the store is loaded again (for
    `make_app`, until the process restarts). A persisted copy keeps
    its lineage but served slower (ROADMAP item 1)."""
    return to_range_arrays(ranges, ("subj", "pred", "obj")).localCheckpoint()


def global_state_at_ts(turns: DataFrame, ts) -> DataFrame:
    """hist:globalStateAt — as-of lookup (J5,
    RocksTripleSource.java:739-768): per conversation, the first turn
    with ts ≥ the probe instant; among equal timestamps the minimum
    turn_idx (W4)."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    cand = turns.filter(F.col("ts") >= ts)
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("conv_id", "turn_idx", "ts")
    )


def adjacency(triples_or_ranges: DataFrame) -> DataFrame:
    """Adjacency table (north rule): subj → list<(pred, obj)>."""
    return triples_or_ranges.groupBy("subj").agg(
        F.sort_array(F.collect_set(F.struct("pred", "obj"))).alias("edges")
    )
