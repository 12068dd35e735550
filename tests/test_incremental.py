"""Incremental merge (J7 range-union) + streaming extraction."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from wikidata_sparql_history_spark import LONG_MAX
from wikidata_sparql_history_spark.streaming.incremental import (
    close_open_ranges_at,
    merge_range_arrays,
    merge_ranges,
    stream_extract,
)


def test_merge_range_arrays_overlap_and_adjacent(spark):
    df = spark.createDataFrame(
        [
            (1, [(5, 7), (1, 3), (3, 4)]),          # adjacent 1-3,3-4 merge
            (2, [(1, 10), (2, 5)]),                 # contained
            (3, [(1, 2), (5, LONG_MAX), (6, 9)]),   # open range swallows
        ],
        "id long, ranges array<struct<start:long, end:long>>",
    )
    got = {
        r.id: [(x.start, x.end) for x in r.merged]
        for r in df.select(
            "id", merge_range_arrays(F.col("ranges")).alias("merged")
        ).collect()
    }
    assert got[1] == [(1, 4), (5, 7)]
    assert got[2] == [(1, 10)]
    assert got[3] == [(1, 2), (5, LONG_MAX)]


def test_merge_ranges_reopens_live_triple(spark):
    schema = (
        "conv_id string, subj string, pred string, obj string, "
        "ranges array<struct<start:long, end:long>>"
    )
    existing = spark.createDataFrame(
        [("c1", "Q1", "P1", "Q2", [(2, LONG_MAX)])], schema
    )
    # new batch observed the fact continuing from rev 30
    new = spark.createDataFrame([("c1", "Q1", "P1", "Q2", [(30, LONG_MAX)])], schema)
    boundaries = spark.createDataFrame([("c1", 30)], "conv_id string, at_rev long")
    closed = close_open_ranges_at(existing, boundaries)
    merged = merge_ranges(closed, new).collect()
    assert len(merged) == 1
    assert [(r.start, r.end) for r in merged[0].ranges] == [(2, LONG_MAX)]


def test_stream_extract_end_to_end(spark, tmp_path):
    from wikidata_sparql_history_spark import synth

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    t = synth.transcripts(spark, 8)
    t.write.parquet(in_dir)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    q = stream_extract(spark, in_dir, schema, ck_dir, out_dir).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out_dir)
    from wikidata_sparql_history_spark.pipeline.extract import extract_triples

    want = extract_triples(t)
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty()


def test_close_open_ranges_at_per_conv(spark):
    from wikidata_sparql_history_spark.streaming.incremental import (
        close_open_ranges_at,
    )

    schema = (
        "conv_id string, subj string, pred string, obj string, "
        "ranges array<struct<start:bigint,end:bigint>>"
    )
    existing = spark.createDataFrame(
        [
            ("c1", "Q1", "P1", "Q2", [(2, LONG_MAX)]),   # conv gets new turns
            ("c1", "Q1", "P2", "Q3", [(2, 5)]),          # already closed
            ("c2", "Q9", "P1", "Q2", [(2, LONG_MAX)]),   # conv has NO new turns
        ],
        schema,
    )
    boundaries = spark.createDataFrame([("c1", 30)], "conv_id string, at_rev long")
    got = {
        (r.conv_id, r.subj, r.pred): [(g.start, g.end) for g in r.ranges]
        for r in close_open_ranges_at(existing, boundaries).collect()
    }
    assert got[("c1", "Q1", "P1")] == [(2, 30)]       # open → closed at 30
    assert got[("c1", "Q1", "P2")] == [(2, 5)]        # closed stays put
    assert got[("c2", "Q9", "P1")] == [(2, LONG_MAX)]  # no boundary → open
