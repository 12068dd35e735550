"""The served triple index (`views.triple_index`): one row per distinct
(subj, pred, obj) with its range array, built once per loaded store.

- Every query class answers the same rows with `index=` as over
  `ranges` with the per-query distinct, over a store where one triple
  lives in four conversations in overlapping and abutting ranges.
- With the index, point and GRAPH <rev:…/N> queries plan no Exchange.
- `cli --serve` drops the index's pinned blocks when its session ends.
"""

from __future__ import annotations

import io
import os

import pytest

from wikidata_sparql_history_spark import LONG_MAX, cli
from wikidata_sparql_history_spark.pipeline import coalesce
from wikidata_sparql_history_spark.plans import sparql, views
from wikidata_sparql_history_spark.session import release_checkpoint

# T = (Q1 P1 Q2) in four conversations: c2 [3,7) overlaps c1 [2,5),
# c3 [5,9) and c4 [5,7) abut it at 5; c3 and c4 both start at 5, c2
# and c4 both end at 7. U = (Q2 P1 Q3) lives only in c1 [2,5), so
# rev:global/5 must drop it (range ends are exclusive).
RANGES = [
    ("c1", "Q1", "P1", "Q2", 2, 5),
    ("c1", "Q1", "P1", "Q2", 9, 12),
    ("c2", "Q1", "P1", "Q2", 3, 7),
    ("c3", "Q1", "P1", "Q2", 5, 9),
    ("c4", "Q1", "P1", "Q2", 5, 7),
    ("c1", "Q2", "P1", "Q3", 2, 5),
    ("c2", "Q3", "P2", "Q1", 3, LONG_MAX),
]
SCHEMA = ("conv_id string, subj string, pred string, obj string, "
          "range_start long, range_end long")
T = ("Q1", "P1", "Q2")

# (query, multiset): a multiset answer changes when the graph keeps
# one row per (conversation, triple) instead of one per triple
QUERIES = {
    "point": ("SELECT ?p ?o WHERE { Q1 ?p ?o }", True),
    "ask": ("ASK { Q1 P1 Q2 }", False),
    "distinct": ("SELECT DISTINCT ?s ?o WHERE { ?s P1 ?o }", False),
    "global_at_start": (
        "SELECT ?s ?o WHERE { GRAPH <rev:global/3> { ?s P1 ?o } }", True),
    "global_at_end": (
        "SELECT ?s ?o WHERE { GRAPH <rev:global/5> { ?s P1 ?o } }", True),
    "additions": (
        "SELECT ?s ?o WHERE { GRAPH <rev:additions/5> { ?s ?p ?o } }", True),
    "deletions": (
        "SELECT ?s ?o WHERE { GRAPH <rev:deletions/7> { ?s ?p ?o } }", True),
    "group_count": (
        "SELECT ?s (COUNT(*) AS ?n) WHERE { ?s P1 ?o } GROUP BY ?s", True),
    "two_hop": ("SELECT ?a ?c WHERE { ?a P1 ?b . ?b P1 ?c }", True),
    "plus": ("SELECT ?o WHERE { Q1 P1+ ?o }", False),
    "star": ("SELECT ?s ?o WHERE { ?s P1* ?o }", False),
    "describe": ("DESCRIBE Q2", True),
    "from": ("SELECT ?s ?o FROM <rev:global/5> WHERE { ?s ?p ?o }", True),
    "construct": ("CONSTRUCT { ?o P9 ?s } WHERE { ?s P1 ?o }", False),
}


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index_store"))
    spark.createDataFrame(RANGES, SCHEMA).write.parquet(
        os.path.join(out, "ranges"))
    return out


@pytest.fixture(scope="module")
def loaded(spark, store):
    ranges, _ = cli._load(spark, store)
    index = views.triple_index(ranges)
    without_t = ranges.filter(
        ~((ranges.subj == T[0]) & (ranges.pred == T[1]) & (ranges.obj == T[2])))
    index_without_t = views.triple_index(without_t)
    yield ranges, index, without_t, index_without_t
    release_checkpoint(index)
    release_checkpoint(index_without_t)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plain(query, ranges):
    """The default graph as the front doors served it before the
    index: `ranges`' term columns, deduplicated per query."""
    return _rows(sparql.evaluate(
        ranges.select("subj", "pred", "obj"), query, ranges=ranges))


def _indexed(query, ranges, index):
    return _rows(sparql.evaluate(None, query, ranges=ranges, index=index))


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_index_answers_as_the_distinct_ranges(loaded, name):
    query, multiset = QUERIES[name]
    ranges, index, without_t, index_without_t = loaded
    got = _indexed(query, ranges, index)
    assert got == _plain(query, ranges)
    # the query reads the duplicated triple T ...
    assert _indexed(query, without_t, index_without_t) != got
    if multiset:
        # ... and its answer would count T once per conversation if
        # the index kept one row per (conversation, triple)
        per_conv = coalesce.to_range_arrays(ranges).drop("conv_id")
        assert _indexed(query, ranges, per_conv) != got


def test_range_end_is_exclusive(loaded):
    ranges, index, _, _ = loaded
    at_end = "SELECT ?s ?o WHERE { GRAPH <rev:global/5> { ?s P1 ?o } }"
    assert _indexed(at_end, ranges, index) == [("Q1", "Q2")]


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("query", [
    "SELECT ?p ?o WHERE { Q1 ?p ?o }",
    "SELECT ?s ?o WHERE { GRAPH <rev:global/5> { ?s P1 ?o } }",
    "SELECT ?s ?o WHERE { GRAPH <rev:additions/5> { ?s P1 ?o } }",
])
def test_indexed_queries_plan_no_exchange(loaded, query):
    ranges, index, _, _ = loaded
    plain = _executed_plan(sparql.evaluate(
        ranges.select("subj", "pred", "obj"), query, ranges=ranges))
    assert "hashpartitioning(subj" in plain   # the per-query distinct
    indexed = _executed_plan(
        sparql.evaluate(None, query, ranges=ranges, index=index))
    assert "Exchange" not in indexed, indexed


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_index_pins_once_and_release_drops_it(spark, store):
    ranges, _ = cli._load(spark, store)
    before = _persisted_rdds(spark)
    index = views.triple_index(ranges)
    assert _persisted_rdds(spark) == before + 1
    release_checkpoint(index)
    assert _persisted_rdds(spark) == before


def test_serve_releases_the_index(spark, store):
    before = _persisted_rdds(spark)
    out = io.StringIO()
    rc = cli.main(["--store", store, "--serve"], spark=spark, out=out,
                  inp=io.StringIO("SELECT ?p ?o WHERE { Q1 ?p ?o }\nexit\n"))
    assert rc == 0
    assert out.getvalue().splitlines()[:2] == ["p\to", "P1\tQ2"]
    assert _persisted_rdds(spark) == before
