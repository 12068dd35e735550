"""Transitive closure (SPARQL p+ analog, PropertyPathOptimizer)."""

from __future__ import annotations

from wikidata_sparql_history_spark.plans import paths


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_closure_chain_unbounded(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {tuple(r) for r in paths.transitive_closure(e).collect()}
    assert got == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }


def test_closure_cycle_terminates(spark):
    # 3-cycle: every node reaches every node including itself
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    got = {tuple(r) for r in paths.transitive_closure(e).collect()}
    assert got == {(x, y) for x in "abc" for y in "abc"}


def test_closure_seeded(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    seeds = spark.createDataFrame([("a",)], "src string")
    got = {tuple(r) for r in paths.transitive_closure(e, seeds=seeds).collect()}
    assert got == {("a", "b"), ("a", "c")}


def test_closure_materializes_once_per_round(spark, monkeypatch):
    """Seeded chain a→b→c→d→e: the edge table, the seeded frontier and
    one block per round (three that find a new pair, one that finds
    none) are checkpointed — `reached` is the union of those blocks,
    not a fresh copy each round. Spark 4.1 overrides localCheckpoint in
    the classic DataFrame subclass, so that is the class to wrap."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    seeds = spark.createDataFrame([("a",)], "src string")
    calls = []
    real = ClassicDataFrame.localCheckpoint

    def counted(self, *a, **k):
        calls.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", counted)
    got = {tuple(r) for r in paths.transitive_closure(e, seeds=seeds).collect()}
    assert got == {("a", "b"), ("a", "c"), ("a", "d"), ("a", "e")}
    assert len(calls) == 2 + 4


def test_closure_self_loop(spark):
    e = _edges(spark, [("a", "a"), ("a", "b")])
    got = {tuple(r) for r in paths.transitive_closure(e).collect()}
    assert got == {("a", "a"), ("a", "b")}


def test_pagerank_matches_python_power_iteration(spark):
    # 'e' is a DANGLING node (in-edges only): its rank must be
    # redistributed uniformly each iteration, not silently leaked
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"),
             ("c", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in paths.pagerank(df, 10, 0.85).collect()}

    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(10):
        contrib = {v: 0.0 for v in nodes}
        for s, d in edges:
            contrib[d] += rank[s] / out[s]
        dm = sum(rank[v] for v in nodes if v not in out)
        rank = {
            v: (1 - 0.85) / n + 0.85 * (contrib[v] + dm / n) for v in nodes
        }
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])
    # total mass is conserved under dangling redistribution
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # ranks reflect structure: 'a' (two in-edges incl. from the hub
    # cycle) outranks the dangling-source 'd'
    assert got["a"] > got["d"]


def test_path_algebra(spark):
    p = _edges(spark, [("a", "b"), ("b", "c")])
    q = _edges(spark, [("x", "b")])
    # ^q : b→x ; p/^q : a→x
    inv = {tuple(r) for r in paths.inverse_path(q).collect()}
    assert inv == {("b", "x")}
    seq = {tuple(r) for r in paths.seq_path(p, paths.inverse_path(q)).collect()}
    assert seq == {("a", "x")}
    alt = {tuple(r) for r in paths.alt_path(p, q).collect()}
    assert alt == {("a", "b"), ("b", "c"), ("x", "b")}


def test_zero_or_more(spark):
    e = _edges(spark, [("a", "b"), ("b", "c")])
    got = {tuple(r) for r in paths.zero_or_more(e).collect()}
    assert got == {
        ("a", "a"), ("b", "b"), ("c", "c"),       # zero-length
        ("a", "b"), ("a", "c"), ("b", "c"),
    }
    seeded = {
        tuple(r)
        for r in paths.zero_or_more(
            e, seeds=spark.createDataFrame([("a",)], "src string")
        ).collect()
    }
    assert seeded == {("a", "a"), ("a", "b"), ("a", "c")}


def test_zero_or_one(spark):
    e = _edges(spark, [("a", "b"), ("b", "c")])
    got = {tuple(r) for r in paths.zero_or_one(e).collect()}
    assert got == {
        ("a", "a"), ("b", "b"), ("c", "c"),
        ("a", "b"), ("b", "c"),
    }


def test_negated_property_set(spark):
    t = spark.createDataFrame(
        [("a", "P0", "b"), ("a", "P1", "c"), ("a", "P2", "d")],
        "subj string, pred string, obj string",
    )
    got = {tuple(r) for r in paths.negated_property_set(t, ["P0", "P1"]).collect()}
    assert got == {("a", "P2", "d")}
