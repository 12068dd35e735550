"""Per-triple validity-range coalescing — THE core aggregation
(SURVEY.md §2.4 A2; reference: RevisionFileConverter.java:128-164).

Semantics: for a conversation's turns ordered r_1 < ... < r_n (turn
ids, possibly non-dense — the revision-id analog), a fact present at a
run of *consecutive* turns r_i..r_j coalesces to the half-open range
``[r_i, r_{j+1})``; if the run reaches the last turn, the end is
LONG_MAX ("still live"). A fact absent and later re-added yields
multiple ranges — the reference's golden case ``[2,9), [11,MAX)``
(RevisionFileConverterTest.java:24-66).

Two implementations with identical output:

- `coalesce_ranges` — pure built-in plan: classic gaps-and-islands via
  window functions (`islands`, shared with the fused plan in
  construct.py). Scales: one shuffle on (conv_id) for the window,
  one partial+final aggregation; no Python.
- `coalesce_ranges_pandas` — `groupBy(conv_id).applyInPandas` running
  the reference's loop verbatim per conversation (bit-for-bit
  semantics witness used by the golden tests).

Both take the distinct per-turn fact set (conv_id, turn_idx, subj,
pred, obj) and the ordered-turns table from `ordering.ordered_turns`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import LONG_MAX

RANGE_COLS = ["conv_id", "subj", "pred", "obj", "range_start", "range_end"]


def islands(present: DataFrame) -> DataFrame:
    """Per-turn presence (conv_id, subj, pred, obj, turn_idx, pos,
    next_turn_idx, ts) → one row per coalesced range (conv_id, subj,
    pred, obj, range_start, range_end, start_ts), where start_ts is the
    provenance timestamp of the turn that introduced the range.

    Every key starts with conv_id, so an input hash-partitioned on
    conv_id needs no exchange here (subset rule)."""
    key = ["conv_id", "subj", "pred", "obj"]
    w = Window.partitionBy(*key).orderBy("pos")
    # island id: dense positions minus their rank are constant per run
    grp = (F.col("pos") - F.row_number().over(w)).alias("grp")
    runs = present.select(*key, "turn_idx", "pos", "next_turn_idx", "ts", grp)
    return runs.groupBy(*key, "grp").agg(
        F.min("turn_idx").alias("range_start"),
        F.max("next_turn_idx").alias("range_end"),
        F.min_by("ts", "pos").alias("start_ts"),
    ).drop("grp")


def _present(facts: DataFrame, turns: DataFrame) -> DataFrame:
    t = turns.select("conv_id", "turn_idx", "pos", "next_turn_idx", "ts")
    return facts.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "subj", "pred", "obj",
    ).join(t, ["conv_id", "turn_idx"])


def coalesce_ranges(facts: DataFrame, turns: DataFrame) -> DataFrame:
    """Gaps-and-islands with window functions (built-in, codegen'd)."""
    return islands(_present(facts, turns))


def coalesce_ranges_pandas(facts: DataFrame, turns: DataFrame) -> DataFrame:
    """Reference-loop semantics via applyInPandas (GROUPED_MAP).

    Mirrors RevisionFileConverter.java:128-164: walk the conversation's
    revisions in order; for each fact present at revision r_i, extend
    its open range if contiguous, else open a new [r_i, r_{i+1}) pair;
    a range whose end is the (non-existent) revision after the last
    turn becomes LONG_MAX.
    """
    present = _present(facts, turns)
    schema = (
        "conv_id string, subj string, pred string, obj string, "
        "range_start long, range_end long, start_ts timestamp"
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["subj", "pred", "obj", "pos"])
        out_rows = []
        open_ranges: dict[tuple, list] = {}
        for row in pdf.itertuples(index=False):
            k = (row.subj, row.pred, row.obj)
            cur = open_ranges.get(k)
            if cur is not None and cur[1] == row.turn_idx:
                cur[1] = row.next_turn_idx  # contiguous: extend
            else:
                if cur is not None:
                    out_rows.append((row.conv_id, *k, cur[0], cur[1], cur[2]))
                open_ranges[k] = [row.turn_idx, row.next_turn_idx, row.ts]
        for k, cur in open_ranges.items():
            out_rows.append((pdf["conv_id"].iloc[0], *k, cur[0], cur[1], cur[2]))
        return pd.DataFrame(
            out_rows,
            columns=[
                "conv_id", "subj", "pred", "obj",
                "range_start", "range_end", "start_ts",
            ],
        )

    return present.groupBy("conv_id").applyInPandas(run, schema=schema)


def to_range_arrays(
    ranges: DataFrame, keys=("conv_id", "subj", "pred", "obj")
) -> DataFrame:
    """Array-form triples table (SURVEY.md §1.3): one row per `keys`
    (by default (conv_id, subj, pred, obj)) with sorted
    array<struct<start,end>>, mirroring the reference's even-length
    sorted long[] ranges.
    """
    return ranges.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(F.struct(
                F.col("range_start").alias("start"),
                F.col("range_end").alias("end"),
            ))
        ).alias("ranges")
    )
