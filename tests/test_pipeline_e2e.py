"""End-to-end pipeline: materialization, resume, per-row invariant,
and P/R >= 0.95 vs closed-form expected triples (BASELINE.json)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from wikidata_sparql_history_spark import LONG_MAX, synth
from wikidata_sparql_history_spark.pipeline.materialize import run_pipeline
from wikidata_sparql_history_spark.pipeline.ordering import ordered_turns

N_CONV = 40

STAGES = [
    "turns", "ranges", "triples", "adjacency", "dictionary",
    "triples_encoded",
    "statements", "statement_qualifiers", "statement_references",
]
RANGE_COLS = ["conv_id", "subj", "pred", "obj", "range_start", "range_end"]


def expected_facts_py(n_conv: int):
    """Closed-form expected canonical per-turn facts — independent
    reimplementation of the grammar in plain Python (the 'reference
    semantics' oracle for P/R)."""

    def canon(k: int) -> int:
        k = k % 25
        return k - 20 if k >= 20 else k

    out = set()
    for c in range(n_conv):
        n_turns = 3 + (c * 7) % 18
        s = c % 50 if c % 3 == 0 else 7
        for t in range(n_turns):
            m = (c + t) % 4
            out.add((f"c{c}", 2 + 3 * t, f"Q{canon(s)}", "P0", f"Q{canon(s)}"))
            for i in range(1, m + 1):
                j = (c + t + i) % 7
                k = (c * 3 + t * 5 + i * 11) % 50
                out.add(
                    (f"c{c}", 2 + 3 * t, f"Q{canon(s)}", f"P{j}", f"Q{canon(k)}")
                )
    return out


def test_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "kg")
    t = synth.transcripts(spark, N_CONV)
    res = run_pipeline(
        spark,
        t,
        out,
        candidates=synth.candidate_dict(spark),
        aliases=synth.alias_edges(spark),
    )
    assert res.stages_run == STAGES
    # ranges come from the fused plan: no intermediate fact tables
    assert not os.path.exists(os.path.join(out, "mentions"))
    assert not os.path.exists(os.path.join(out, "linked"))
    # no reader uses entity terms; the store does not write them
    assert not os.path.exists(os.path.join(out, "entity_terms"))

    # P/R vs closed-form expected per-turn facts (explode ranges back
    # to per-turn presence via the turns table)
    ranges = res.table(spark, "ranges")
    turns = res.table(spark, "turns")
    got_rows = (
        ranges.join(turns.select("conv_id", "turn_idx"), "conv_id")
        .filter(
            (F.col("range_start") <= F.col("turn_idx"))
            & (F.col("turn_idx") < F.col("range_end"))
        )
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .collect()
    )
    got = {(r.conv_id, r.turn_idx, r.subj, r.pred, r.obj) for r in got_rows}
    exp = expected_facts_py(N_CONV)
    tp = len(got & exp)
    precision = tp / len(got)
    recall = tp / len(exp)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    # deterministic grammar → should actually be exact
    assert got == exp

    # metrics sink exists with per-partition lineage
    assert os.path.exists(os.path.join(out, "metrics.json"))

    # reification layer materialized (candidates+aliases provided):
    # statements agree with the per-turn linked facts
    assert {"statements", "statement_qualifiers", "statement_references"} <= set(
        res.stages_run
    )
    stmts = res.table(spark, "statements")
    got_stmt = {
        (r.conv_id, r.turn_idx, r.subj, r.pred, r.obj)
        for r in stmts.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
    }
    assert got_stmt == exp


def test_resume_skips_completed_stages(spark, tmp_path):
    out = str(tmp_path / "kg2")
    t = synth.transcripts(spark, 10)
    first = run_pipeline(spark, t, out)
    assert first.stages_skipped == []
    # simulate crash after 'turns': delete everything downstream
    import shutil

    for name in first.stages_run[1:]:
        shutil.rmtree(os.path.join(out, name))
    second = run_pipeline(spark, t, out, resume=True)
    assert second.stages_skipped == ["turns"]
    assert second.stages_run == first.stages_run[1:]

    # resumed output identical to a fresh run
    fresh = run_pipeline(spark, t, str(tmp_path / "kg3"))
    a = second.table(spark, "ranges").orderBy("conv_id", "subj", "pred", "obj",
                                              "range_start")
    b = fresh.table(spark, "ranges").orderBy("conv_id", "subj", "pred", "obj",
                                             "range_start")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_ranges_table_is_construct_ranges(spark, tmp_path):
    """The store's ranges ARE the fused plan's output, row for row with
    start_ts, and keep the input's ts type: a parquet input written
    without a time zone reads ts as TIMESTAMP_NTZ, and the table's
    start_ts stays NTZ."""
    from wikidata_sparql_history_spark.pipeline.construct import construct_ranges

    src = str(tmp_path / "transcripts")
    synth.transcripts(spark, 20).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    ).write.parquet(src)
    t = spark.read.parquet(src)
    assert t.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    cand, ali = synth.candidate_dict(spark), synth.alias_edges(spark)
    res = run_pipeline(spark, t, str(tmp_path / "kg"), cand, ali)
    ranges = res.table(spark, "ranges")
    assert [(f.name, f.dataType.simpleString()) for f in ranges.schema] == [
        ("conv_id", "string"), ("subj", "string"), ("pred", "string"),
        ("obj", "string"), ("range_start", "bigint"), ("range_end", "bigint"),
        ("start_ts", "timestamp_ntz"),
    ]

    def rows(df):
        us = F.unix_micros(F.col("start_ts").cast("timestamp"))
        return sorted(tuple(r) for r in df.select(*RANGE_COLS, us).collect())

    want = rows(construct_ranges(spark, t, cand, ali))
    assert len(want) > 0
    assert rows(ranges) == want


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_build_releases_persisted_frames(spark, tmp_path, monkeypatch):
    """The shared input and statement-occurrence caches are released
    after a build, and also when a stage write fails."""
    from wikidata_sparql_history_spark.sources import catalog

    t = synth.transcripts(spark, 10)
    cand, ali = synth.candidate_dict(spark), synth.alias_edges(spark)
    before = _persisted_rdds(spark)
    run_pipeline(spark, t, str(tmp_path / "ok"), cand, ali)
    assert _persisted_rdds(spark) == before

    write = catalog.write_table

    def failing(df, path, *a, **kw):
        if os.path.basename(path) == "statement_qualifiers":
            raise RuntimeError("injected write failure")
        return write(df, path, *a, **kw)

    monkeypatch.setattr(catalog, "write_table", failing)
    import pytest

    with pytest.raises(RuntimeError, match="injected write failure"):
        run_pipeline(spark, t, str(tmp_path / "failed"), cand, ali)
    assert _persisted_rdds(spark) == before


def test_statement_tables_equal_unshared_occurrences(spark, tmp_path):
    """The build's statement tables, computed from one persisted
    occurrence pass, equal the statement functions over an independent,
    unpersisted reify_statements of the same input, row for row."""
    from wikidata_sparql_history_spark.pipeline import reify

    t = synth.transcripts(spark, 30)
    cand, ali = synth.candidate_dict(spark), synth.alias_edges(spark)
    res = run_pipeline(spark, t, str(tmp_path / "kg"), cand, ali)
    occ = reify.reify_statements(t, cand, ali)
    for table, fn in (
        ("statements", reify.statement_nodes),
        ("statement_qualifiers", reify.statement_qualifiers),
        ("statement_references", reify.statement_references),
    ):
        got = res.table(spark, table)
        want = fn(occ)
        assert got.columns == want.columns, table
        got_rows = sorted(tuple(r) for r in got.collect())
        assert len(got_rows) > 0, table
        assert got_rows == sorted(tuple(r) for r in want.collect()), table


def test_entity_map_built_once_per_build(spark, tmp_path, monkeypatch):
    """One build links `ranges` and the statement occurrences through
    one entity map; a resumed build that skips every stage builds
    none. Both names a layer could call it by are counted."""
    from wikidata_sparql_history_spark.pipeline import canonicalize, reify

    calls = []
    real = canonicalize.entity_map

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(canonicalize, "entity_map", counted)
    monkeypatch.setattr(reify, "entity_map", counted)
    t = synth.transcripts(spark, 10)
    cand, ali = synth.candidate_dict(spark), synth.alias_edges(spark)
    out = str(tmp_path / "kg")
    assert run_pipeline(spark, t, out, cand, ali).stages_run == STAGES
    assert len(calls) == 1
    calls.clear()
    resumed = run_pipeline(spark, t, out, cand, ali, resume=True)
    assert resumed.stages_skipped == STAGES
    assert calls == []


def test_partition_lineage_describes_the_write(spark, tmp_path):
    """metrics.json lineage has one key per written part file (keyed by
    its part-NNNNN index) and its values sum to the table's rows."""
    import glob
    import json

    out = str(tmp_path / "kg")
    res = run_pipeline(spark, synth.transcripts(spark, 25), out)
    with open(os.path.join(out, "metrics.json")) as f:
        lineage = json.load(f)["partition_lineage"]
    assert set(lineage) == {"ranges", "turns"}
    for name, per_part in lineage.items():
        files = glob.glob(os.path.join(out, name, "part-*.parquet"))
        assert sorted(per_part, key=int) == sorted(
            str(int(os.path.basename(f).split("-")[1])) for f in files
        ), name
        assert sum(per_part.values()) == res.table(spark, name).count(), name


def test_per_turn_text_invariant(spark):
    """Per-row invariant (BASELINE.json input_hint): after shuffling
    and re-ordering, each (conv_id, turn_idx) keeps its exact text."""
    t1 = synth.transcripts(spark, 25, shuffled=False)
    t2 = synth.transcripts(spark, 25, shuffled=True).repartition(13)
    joined = t1.alias("a").join(
        t2.alias("b"), ["conv_id", "turn_idx"], "full"
    )
    bad = joined.filter(
        F.col("a.text").isNull()
        | F.col("b.text").isNull()
        | (F.col("a.text") != F.col("b.text"))
        | (F.col("a.ts") != F.col("b.ts"))
    )
    assert bad.isEmpty()


def test_ordering_dense_positions(spark):
    t = synth.transcripts(spark, 15)
    turns = ordered_turns(t)
    stats = turns.groupBy("conv_id").agg(
        F.min("pos").alias("mn"),
        F.max("pos").alias("mx"),
        F.count("*").alias("n"),
        F.sum(F.when(F.col("next_turn_idx") == LONG_MAX, 1).otherwise(0)).alias(
            "n_last"
        ),
    )
    bad = stats.filter(
        (F.col("mn") != 1) | (F.col("mx") != F.col("n")) | (F.col("n_last") != 1)
    )
    assert bad.isEmpty()


def test_snapshot_filter_pushdown_and_pruning(spark, tmp_path):
    """The scale claim in plans/views.py: snapshot predicates are plain
    column comparisons, so over a WRITTEN table they reach the parquet
    scan (PushedFilters) and only the selected columns are read
    (ReadSchema) — min/max row-group pruning then applies because the
    table is written sorted."""
    from wikidata_sparql_history_spark.plans import views
    from wikidata_sparql_history_spark.sources import catalog

    ranges = spark.createDataFrame(
        [("c0", "Q1", "P1", "Q2", 2, 9), ("c0", "Q1", "P1", "Q2", 11, LONG_MAX)],
        "conv_id string, subj string, pred string, obj string, "
        "range_start long, range_end long",
    )
    path = str(tmp_path / "ranges_tbl")
    catalog.write_table(ranges, path, sort_by=["subj", "pred", "obj"])
    rt = catalog.read_table(spark, path)
    # scan-node metadata strings are truncated at 100 chars by default,
    # and the cut point shifts with attribute-id width in a long-lived
    # session — widen it so the assertions see the full filter lists
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = (
            views.state_at(rt, 8)._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    scan = plan.split("FileScan parquet")[1]
    pushed = scan.split("PushedFilters:")[1].splitlines()[0]
    assert "LessThanOrEqual(range_start,8)" in pushed, scan[:2000]
    assert "GreaterThan(range_end,8)" in pushed, scan[:2000]
    # column pruning: the scan schema must not include range columns'
    # siblings we didn't ask for — state_at selects 4 columns + the 2
    # filter columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "conv_id" in read_schema and "range_start" in read_schema
