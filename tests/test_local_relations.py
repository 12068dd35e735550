"""Driver-built relations (`session.local_relation`): they plan as a
LocalTableScan, so no plan that reads them runs a Python-worker stage
(a pickled Python RDD plans as `Scan ExistingRDD`)."""

from __future__ import annotations

import os

import pytest

import wikidata_sparql_history_spark as pkg
from wikidata_sparql_history_spark import session, synth
from wikidata_sparql_history_spark.pipeline import canonicalize, construct, reify

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df):
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@pytest.fixture
def arrow_off(spark):
    """The session with the Arrow conf off, as a session built outside
    `get_spark` (e.g. by spark-submit) has it; restored afterwards."""
    old = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, "false")
    try:
        yield spark
    finally:
        spark.conf.set(ARROW_CONF, old)


def test_store_build_plans_have_no_python_rdd(spark):
    """The entity map's broadcasts in the fused ranges plan and in the
    statement occurrences read a local relation, not a pickled RDD."""
    t = synth.transcripts(spark, 20, shuffled=False)
    cand, alias = synth.candidate_dict(spark), synth.alias_edges(spark)
    for df in (
        construct.construct_ranges(spark, t, cand, alias,
                                   use_builtin_extractor=True),
        reify.reify_statements(t, cand, alias),
    ):
        assert "ExistingRDD" not in _plan(df)


def test_canonical_map_is_local_with_arrow_conf_off(arrow_off):
    cmap = canonicalize.canonical_map(synth.alias_edges(arrow_off))
    _assert_local(cmap)
    got = {tuple(r) for r in cmap.collect()}
    assert ("Q45", "Q0") in got and len(got) == 30


def test_empty_alias_table_gives_empty_local_map(spark):
    empty = spark.range(0).selectExpr("'a' AS src", "'b' AS dst")
    cmap = canonicalize.canonical_map(empty)
    assert cmap.schema.simpleString() == "struct<src:string,canon:string>"
    assert cmap.count() == 0
    _assert_local(cmap)


def test_local_relation_keeps_null_long_cells(arrow_off):
    df = session.local_relation(
        arrow_off, ["a", "b"], [(1, None), (None, 2)], "long")
    assert df.schema.simpleString() == "struct<a:bigint,b:bigint>"
    assert sorted(map(tuple, df.collect()), key=str) == [(1, None), (None, 2)]
    _assert_local(df)


def test_no_other_create_dataframe_in_package():
    """Every driver-built relation goes through the one helper."""
    root = os.path.dirname(pkg.__file__)
    callers = []
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as f:
                    if "createDataFrame(" in f.read():
                        callers.append(os.path.relpath(path, root))
    assert callers == ["session.py"]
