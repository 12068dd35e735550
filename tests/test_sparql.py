"""SPARQL front-door tests (plans/sparql.py — SimpleQueryPreparer
analog): tokenizer/parser, BGP joins, OPTIONAL/UNION, GRAPH temporal
contexts, magic predicates, aggregates, FILTER operators, typed
literals, error paths."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from wikidata_sparql_history_spark import LONG_MAX
from wikidata_sparql_history_spark.plans import sparql


def graph(spark):
    return spark.createDataFrame(
        [
            ("Q7", "P0", "Q7"),    # self-loop
            ("Q7", "P1", "Q3"),
            ("Q3", "P2", "Q5"),
            ("Q3", "P2", "Q6"),
            ("Q9", "P1", "Q3"),
        ],
        "subj string, pred string, obj string",
    )


def ranges(spark):
    # (subj pred obj) valid over [start, end)
    return spark.createDataFrame(
        [
            ("c1", "Q1", "P0", "Q2", 0, 5),
            ("c1", "Q1", "P0", "Q3", 5, LONG_MAX),
            ("c1", "Q2", "P1", "Q3", 2, 7),
            ("c2", "Q9", "P0", "Q1", 5, 9),
        ],
        "conv_id string, subj string, pred string, obj string, "
        "range_start long, range_end long",
    )


def turns(spark):
    rows = [
        ("c1", 1, "user", None, "2024-01-01 00:00:00", 1, 3, None),
        ("c1", 3, "assistant", None, "2024-01-01 00:00:10", 2, LONG_MAX, 1),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, tool string, "
        "ts string, pos int, next_turn_idx long, parent_turn_idx long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def rows(df):
    return {tuple(r) for r in df.collect()}


# --- parser ---------------------------------------------------------------

def test_parse_select_and_limit():
    q = sparql.parse(
        "SELECT ?s ?o WHERE { ?s <P0> ?o . FILTER(?s = Q7) } "
        "ORDER BY ?s ?o DESC LIMIT 5"
    )
    assert [p.var for p in q.select] == ["s", "o"]
    assert q.group == (
        sparql.Pattern(sparql.Var("s"), sparql.Iri("P0"), sparql.Var("o")),
        sparql.FilterExpr("s", "=", sparql.Iri("Q7")),
    )
    assert q.order == [("s", False), ("o", True)]
    assert q.limit == 5 and not q.distinct


def test_parse_typed_literal_terms():
    q = sparql.parse(
        'SELECT ?s WHERE { ?s P0 "x"@en . FILTER(?s >= "3"^^xsd:integer) }'
    )
    pat, fe = q.group
    assert pat.o == sparql.Lit("x", "en", None)
    assert fe.term == sparql.Lit("3", None, "xsd:integer")
    assert sparql._is_numeric_const(fe.term)
    assert sparql.string_form(pat.o) == "x@en"


def test_parse_aggregate_projection():
    q = sparql.parse(
        "SELECT ?x (COUNT(?y) AS ?n) WHERE { ?x P0 ?y } GROUP BY ?x"
    )
    assert q.select[1] == sparql.Projection("n", "COUNT", "y", False)
    assert q.group_by == ["x"]


# --- BGP (unchanged semantics, multiset now) ------------------------------

def test_star_selects_all_vars_sorted(spark):
    out = sparql.evaluate(graph(spark), "SELECT * WHERE { ?s P1 ?o }")
    assert out.columns == ["o", "s"]
    assert rows(out) == {("Q3", "Q7"), ("Q3", "Q9")}


def test_bgp_join_on_shared_var(spark):
    q = "SELECT ?x ?y WHERE { Q7 ?p ?x . ?x P2 ?y }"
    assert rows(sparql.evaluate(graph(spark), q)) == {
        ("Q3", "Q5"), ("Q3", "Q6")
    }


def test_select_is_multiset_unless_distinct(spark):
    # ?o projected away: Q3 has two P2 objects ⇒ two duplicate rows
    q = "SELECT ?s WHERE { ?s P2 ?o }"
    assert [tuple(r) for r in sparql.evaluate(graph(spark), q).collect()] == [
        ("Q3",), ("Q3",)
    ]
    qd = "SELECT DISTINCT ?s WHERE { ?s P2 ?o }"
    assert sparql.evaluate(graph(spark), qd).count() == 1


def test_repeated_variable_matches_self_loops(spark):
    q = "SELECT ?x WHERE { ?x P0 ?x }"
    assert rows(sparql.evaluate(graph(spark), q)) == {("Q7",)}


def test_variable_predicate(spark):
    q = "SELECT ?p WHERE { Q3 ?p Q5 }"
    assert rows(sparql.evaluate(graph(spark), q)) == {("P2",)}


# --- OPTIONAL / UNION -----------------------------------------------------

def test_optional_left_join_with_unbound(spark):
    q = ("SELECT ?s ?z WHERE { ?s P1 ?o . OPTIONAL { ?o P2 ?z } "
         "FILTER(?s = Q7) }")
    out = rows(sparql.evaluate(graph(spark), q))
    assert out == {("Q7", "Q5"), ("Q7", "Q6")}
    # a subject whose optional side is empty keeps a NULL ?z
    q2 = "SELECT ?s ?z WHERE { ?s P2 ?o . OPTIONAL { ?o P2 ?z } }"
    assert rows(sparql.evaluate(graph(spark), q2)) == {
        ("Q3", None), ("Q3", None)
    }


def test_union_null_pads_disjoint_vars(spark):
    q = "SELECT ?a ?b WHERE { { ?a P0 ?x } UNION { ?b P2 ?x } }"
    # multiset: Q3 appears twice (two P2 triples); disjoint vars NULL-pad
    got = [tuple(r) for r in sparql.evaluate(graph(spark), q).collect()]
    assert sorted(got, key=str) == sorted(
        [("Q7", None), (None, "Q3"), (None, "Q3")], key=str)


def test_nested_group_is_join(spark):
    q = "SELECT ?x WHERE { { ?x P0 ?x } { ?x P1 ?y } }"
    assert rows(sparql.evaluate(graph(spark), q)) == {("Q7",)}


# --- GRAPH temporal contexts ---------------------------------------------

def test_graph_state_additions_deletions(spark):
    r = ranges(spark)
    q = "SELECT ?s ?o WHERE { GRAPH <rev:global/5> { ?s P0 ?o } }"
    assert rows(sparql.evaluate(None, q, ranges=r)) == {
        ("Q1", "Q3"), ("Q9", "Q1")
    }
    qa = "SELECT ?s WHERE { GRAPH rev:additions/5 { ?s ?p ?o } }"
    assert rows(sparql.evaluate(None, qa, ranges=r)) == {("Q1",), ("Q9",)}
    qd = "SELECT ?s WHERE { GRAPH rev:deletions/5 { ?s ?p ?o } }"
    assert rows(sparql.evaluate(None, qd, ranges=r)) == {("Q1",)}


def test_graph_join_across_contexts(spark):
    r = ranges(spark)
    q = ("SELECT ?s WHERE { GRAPH rev:global/3 { ?s P0 ?o } . "
         "GRAPH rev:deletions/5 { ?s P0 ?x } }")
    assert rows(sparql.evaluate(None, q, ranges=r)) == {("Q1",)}


def test_graph_errors(spark):
    r = ranges(spark)
    # variable GRAPH is supported (bounded boundary enumeration) —
    # but magic predicates / paths inside it are rejected loudly
    with pytest.raises(sparql.SparqlError, match="GRAPH .var"):
        sparql.evaluate(None,
                        "SELECT ?g WHERE { GRAPH ?g { ?t hist:author ?w } }",
                        ranges=r, turns=r)
    with pytest.raises(sparql.SparqlError, match="GRAPH .var"):
        sparql.evaluate(None, "SELECT ?g WHERE { GRAPH ?g { Q1 P0+ ?o } }",
                        ranges=r)
    with pytest.raises(sparql.SparqlError, match="unknown graph IRI"):
        sparql.evaluate(None, "SELECT ?s WHERE { GRAPH rev:bogus/1 { ?s ?p ?o } }",
                        ranges=r)
    with pytest.raises(sparql.SparqlError, match="need ranges"):
        sparql.evaluate(None, "SELECT ?s WHERE { GRAPH rev:global/1 { ?s ?p ?o } }")


# --- magic predicates -----------------------------------------------------

def test_magic_predicates(spark):
    t = turns(spark)
    q = "SELECT ?t ?who WHERE { ?t hist:author ?who }"
    assert rows(sparql.evaluate(None, q, turns=t)) == {
        ("rev:c1/1", "user"), ("rev:c1/3", "assistant")
    }
    q2 = ("SELECT ?t ?c ?prev WHERE { ?t schema:about ?c . "
          "?t schema:isBasedOn ?prev }")
    assert rows(sparql.evaluate(None, q2, turns=t)) == {
        ("rev:c1/3", "c1", "rev:c1/1")
    }
    q3 = "SELECT ?n WHERE { <rev:c1/1> hist:nextRevision ?n }"
    assert rows(sparql.evaluate(None, q3, turns=t)) == {("rev:c1/3",)}
    with pytest.raises(sparql.SparqlError, match="needs turns"):
        sparql.evaluate(None, q)


def test_magic_date_created_is_epoch_micros(spark):
    t = turns(spark)
    q = "SELECT ?d WHERE { <rev:c1/1> schema:dateCreated ?d }"
    assert rows(sparql.evaluate(None, q, turns=t)) == {("1704067200000000",)}


# --- aggregates -----------------------------------------------------------

def test_count_group_by(spark):
    q = ("SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } "
         "GROUP BY ?s ORDER BY ?s")
    got = [tuple(r) for r in sparql.evaluate(graph(spark), q).collect()]
    assert got == [("Q3", 2), ("Q7", 2), ("Q9", 1)]


def test_count_star_and_distinct(spark):
    q = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    assert rows(sparql.evaluate(graph(spark), q)) == {(5,)}
    q2 = "SELECT (COUNT(DISTINCT ?o) AS ?n) WHERE { ?s ?p ?o }"
    assert rows(sparql.evaluate(graph(spark), q2)) == {(4,)}


def test_ungrouped_select_var_raises(spark):
    with pytest.raises(sparql.SparqlError, match="not in GROUP BY"):
        sparql.evaluate(
            graph(spark),
            "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o }",
        )


# --- FILTER operators -----------------------------------------------------

def test_filter_equality(spark):
    q = "SELECT ?s WHERE { ?s P1 ?o . FILTER(?s = Q9) }"
    assert rows(sparql.evaluate(graph(spark), q)) == {("Q9",)}


def test_filter_inequality_and_regex(spark):
    q = "SELECT ?s WHERE { ?s P1 ?o . FILTER(?s != Q9) }"
    assert rows(sparql.evaluate(graph(spark), q)) == {("Q7",)}
    q2 = 'SELECT ?o WHERE { Q3 P2 ?o . FILTER(regex(?o, "Q[56]")) }'
    assert rows(sparql.evaluate(graph(spark), q2)) == {("Q5",), ("Q6",)}


def test_filter_numeric_range(spark):
    df = spark.createDataFrame(
        [("a", "P9", "3"), ("b", "P9", "12"), ("c", "P9", "7")],
        "subj string, pred string, obj string",
    )
    # lexicographic would put "12" < "3"; numeric must not
    q = 'SELECT ?s WHERE { ?s P9 ?v . FILTER(?v >= "7"^^xsd:integer) }'
    assert rows(sparql.evaluate(df, q)) == {("b",), ("c",)}
    q2 = "SELECT ?s WHERE { ?s P9 ?v . FILTER(?v < 7) }"
    assert rows(sparql.evaluate(df, q2)) == {("a",)}


# --- encoded surface (ExprValueConverter analog) --------------------------

def test_encode_const_binds_before_join(spark):
    enc = {"Q7": 70, "P0": 12, "Q3": 30, "P1": 13}
    df = spark.createDataFrame(
        [(70, 12, 70), (70, 13, 30)], "subj long, pred long, obj long"
    )

    def encode(term):
        if isinstance(term, sparql.Lit) and sparql._is_numeric_const(term):
            return int(term.lexical) * 12 + 3   # typed_values compose
        return enc[sparql.string_form(term)]

    q = "SELECT ?o WHERE { Q7 P1 ?o }"
    assert rows(sparql.evaluate(df, q, encode_const=encode)) == {(30,)}
    q2 = 'SELECT ?s WHERE { ?s ?p ?o . FILTER(?o >= "3"^^xsd:integer) }'
    # encoded filter: 3*12+3 = 39 ⇒ only the (70,12,70) row
    assert rows(sparql.evaluate(df, q2, encode_const=encode)) == {(70,)}


# --- ORDER BY / LIMIT / errors -------------------------------------------

def test_order_by_limit_topk(spark):
    q = "SELECT ?s ?o WHERE { ?s P2 ?o } ORDER BY ?o DESC LIMIT 1"
    out = sparql.evaluate(graph(spark), q)
    assert [tuple(r) for r in out.collect()] == [("Q3", "Q6")]
    assert "TakeOrderedAndProject" in (
        out._jdf.queryExecution().executedPlan().toString()
    )
    with pytest.raises(sparql.SparqlError, match="ORDER BY"):
        sparql.evaluate(
            graph(spark), "SELECT ?s WHERE { ?s P2 ?o } ORDER BY ?zz"
        )


def test_unsupported_feature_raises(spark):
    with pytest.raises(sparql.SparqlError, match="SERVICE"):
        sparql.evaluate(
            graph(spark),
            "SELECT ?s WHERE { ?s P1 ?o . SERVICE <x> { ?s P0 ?s } }",
        )
    with pytest.raises(sparql.SparqlError, match="OFFSET"):
        sparql.parse('SELECT ?s WHERE { ?s P1 ?o . OFFSET 5 }')


def test_unbound_filter_and_select_raise(spark):
    with pytest.raises(sparql.SparqlError, match="unbound"):
        sparql.evaluate(
            graph(spark), "SELECT ?s WHERE { ?s P1 ?o . FILTER(?z = Q1) }"
        )
    with pytest.raises(sparql.SparqlError, match="unbound"):
        sparql.evaluate(graph(spark), "SELECT ?z WHERE { ?s P1 ?o }")


def test_bad_pattern_raises(spark):
    with pytest.raises(sparql.SparqlError, match="bad triple pattern"):
        sparql.evaluate(graph(spark), "SELECT ?s WHERE { ?s P1 }")


# --- property paths in text ----------------------------------------------

def path_graph(spark):
    return spark.createDataFrame(
        [
            ("a", "P1", "b"), ("b", "P1", "c"), ("c", "P1", "d"),
            ("a", "P2", "x"), ("x", "P3", "y"),
            ("q", "P9", "a"),
        ],
        "subj string, pred string, obj string",
    )


def test_path_plus(spark):
    q = "SELECT DISTINCT ?o WHERE { a P1+ ?o }"
    assert rows(sparql.evaluate(path_graph(spark), q)) == {
        ("b",), ("c",), ("d",)
    }


def test_path_star_includes_identity(spark):
    q = "SELECT DISTINCT ?o WHERE { b P1* ?o }"
    assert rows(sparql.evaluate(path_graph(spark), q)) == {
        ("b",), ("c",), ("d",)
    }


def test_path_opt(spark):
    q = "SELECT DISTINCT ?o WHERE { a P2? ?o }"
    # zero-length (a itself) plus the one P2 edge
    assert rows(sparql.evaluate(path_graph(spark), q)) == {("a",), ("x",)}


def test_path_seq_and_alt(spark):
    q = "SELECT DISTINCT ?o WHERE { a P2/P3 ?o }"
    assert rows(sparql.evaluate(path_graph(spark), q)) == {("y",)}
    q2 = "SELECT DISTINCT ?o WHERE { a (P1|P2) ?o }"
    assert rows(sparql.evaluate(path_graph(spark), q2)) == {("b",), ("x",)}


def test_path_inverse(spark):
    q = "SELECT DISTINCT ?s WHERE { ?s ^P9 ?o }"
    assert rows(sparql.evaluate(path_graph(spark), q)) == {("a",)}


def test_path_negated_set(spark):
    q = "SELECT DISTINCT ?s ?o WHERE { ?s !(P1|P9) ?o }"
    assert rows(sparql.evaluate(path_graph(spark), q)) == {
        ("a", "x"), ("x", "y")
    }


def test_path_join_with_bgp(spark):
    # a path pattern joins other patterns on shared variables
    q = "SELECT DISTINCT ?m ?o WHERE { q P9 ?m . ?m P1+ ?o }"
    assert rows(sparql.evaluate(path_graph(spark), q)) == {
        ("a", "b"), ("a", "c"), ("a", "d")
    }


def test_path_repeated_var_cycle(spark):
    cyc = spark.createDataFrame(
        [("a", "P1", "b"), ("b", "P1", "a"), ("c", "P1", "d")],
        "subj string, pred string, obj string",
    )
    q = "SELECT DISTINCT ?x WHERE { ?x P1+ ?x }"
    assert rows(sparql.evaluate(cyc, q)) == {("a",), ("b",)}


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_path_seed_and_values_are_local_relations(spark, monkeypatch):
    """The bound-subject seed of p+/p* and a VALUES relation are built
    driver-side as a LocalTableScan, not a pickled Python RDD (which
    plans as ExistingRDD and runs a Python-worker job per query)."""
    from wikidata_sparql_history_spark.plans import paths

    seeds = []
    for name in ("transitive_closure", "zero_or_more"):
        real = getattr(paths, name)

        def wrapped(*a, _real=real, **k):
            seeds.append(k["seeds"])
            return _real(*a, **k)

        monkeypatch.setattr(paths, name, wrapped)
    values = []
    real_join = sparql._join

    def join(acc, bound, df, vs, how="inner"):
        if set(df.columns) == {"v_a", "v_b"}:
            values.append(df)
        return real_join(acc, bound, df, vs, how)

    monkeypatch.setattr(sparql, "_join", join)
    g = path_graph(spark)
    sparql.evaluate(g, "SELECT DISTINCT ?o WHERE { a P1+ ?o }")
    sparql.evaluate(g, "SELECT DISTINCT ?o WHERE { b P1* ?o }")
    sparql.evaluate(
        g, "SELECT ?a ?b WHERE { VALUES (?a ?b) { (a b) (c UNDEF) } }")
    # p* reaches transitive_closure through zero_or_more: 1 + 2 seeds
    assert len(seeds) == 3 and len(values) == 1
    for df in seeds + values:
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_seeded_path_and_values_undef_on_encoded_surface(spark):
    """A seeded p+/p* and a VALUES block with UNDEF over an int64 graph
    answer the string surface's answers mapped through the encoder,
    with UNDEF staying NULL on the long columns."""
    triples = [tuple(r) for r in path_graph(spark).collect()]
    terms = sorted({t for row in triples for t in row} | {"zz"})
    enc = {t: 100 + i for i, t in enumerate(terms)}
    g_long = spark.createDataFrame(
        [tuple(enc[t] for t in row) for row in triples],
        "subj long, pred long, obj long",
    )

    def encode(term):
        return enc[sparql.string_form(term)]

    for q in (
        "SELECT DISTINCT ?o WHERE { a P1+ ?o }",
        "SELECT DISTINCT ?o WHERE { b P1* ?o }",
        "SELECT DISTINCT ?o WHERE { zz P1* ?o }",
        "SELECT ?a ?b WHERE { VALUES (?a ?b) { (a b) (c UNDEF) } }",
        "SELECT ?s ?o WHERE { ?s P1 ?o . VALUES ?s { a c zz } }",
    ):
        want = {
            tuple(None if v is None else enc[v] for v in r)
            for r in rows(sparql.evaluate(path_graph(spark), q))
        }
        got_df = sparql.evaluate(g_long, q, encode_const=encode)
        assert {t for _, t in got_df.dtypes} == {"bigint"}, q
        assert rows(got_df) == want, q
    q = "SELECT ?a ?b WHERE { VALUES (?a ?b) { (a b) (c UNDEF) } }"
    assert rows(sparql.evaluate(g_long, q, encode_const=encode)) == {
        (enc["a"], enc["b"]), (enc["c"], None)
    }


# --- MINUS / EXISTS / VALUES / globalStateAt ------------------------------

def test_minus_removes_shared_solutions(spark):
    q = "SELECT DISTINCT ?s WHERE { ?s ?p ?o . MINUS { ?s P0 ?x } }"
    # Q7 has a P0 self-loop and is removed; Q3/Q9 survive
    assert rows(sparql.evaluate(graph(spark), q)) == {("Q3",), ("Q9",)}


def test_minus_disjoint_vars_is_noop(spark):
    q = "SELECT DISTINCT ?s WHERE { ?s P1 ?o . MINUS { ?a P0 ?b } }"
    assert rows(sparql.evaluate(graph(spark), q)) == {("Q7",), ("Q9",)}


def test_filter_exists_and_not_exists(spark):
    q = ("SELECT DISTINCT ?s WHERE { ?s P1 ?o . "
         "FILTER EXISTS { ?s P0 ?z } }")
    assert rows(sparql.evaluate(graph(spark), q)) == {("Q7",)}
    q2 = ("SELECT DISTINCT ?s WHERE { ?s P1 ?o . "
          "FILTER NOT EXISTS { ?s P0 ?z } }")
    assert rows(sparql.evaluate(graph(spark), q2)) == {("Q9",)}
    with pytest.raises(sparql.SparqlError, match="shared"):
        sparql.evaluate(
            graph(spark),
            "SELECT ?s WHERE { ?s P1 ?o . FILTER EXISTS { ?a P2 ?b } }",
        )


def test_values_single_and_multi(spark):
    q = "SELECT DISTINCT ?s ?o WHERE { ?s P2 ?o . VALUES ?o { Q5 } }"
    assert rows(sparql.evaluate(graph(spark), q)) == {("Q3", "Q5")}
    q2 = ("SELECT ?s ?o WHERE { ?s ?p ?o . "
          "VALUES (?s ?o) { (Q7 Q3) (Q3 Q6) } }")
    assert rows(sparql.evaluate(graph(spark), q2)) == {
        ("Q7", "Q3"), ("Q3", "Q6")
    }


def test_values_undef_is_unbound(spark):
    q = "SELECT ?a ?b WHERE { VALUES (?a ?b) { (Q1 Q2) (Q3 UNDEF) } }"
    assert rows(sparql.evaluate(graph(spark), q)) == {
        ("Q1", "Q2"), ("Q3", None)
    }


def test_global_state_at_asof(spark):
    t = turns(spark)
    q = ('SELECT ?t WHERE { ?t hist:globalStateAt '
         '"2024-01-01T00:00:05"^^xsd:dateTime }')
    # first turn with ts >= probe per conversation: c1 turn 3 (00:00:10)
    assert rows(sparql.evaluate(None, q, turns=t)) == {("rev:c1/3",)}
    with pytest.raises(sparql.SparqlError, match="constant date"):
        sparql.evaluate(
            None, "SELECT ?t WHERE { ?t hist:globalStateAt ?d }", turns=t)


# --- plan shape (100 TB claims) -------------------------------------------

def test_sparql_constants_push_to_parquet_scan(spark, tmp_path):
    """Constants in a pattern become scan-side equality filters: over a
    WRITTEN table they must reach the parquet scan as PushedFilters —
    the ExprValueConverter bind-before-join promise at the text
    surface."""
    p = str(tmp_path / "sparql_graph")
    graph(spark).write.parquet(p)
    df = spark.read.parquet(p)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = (
            sparql.evaluate(df, "SELECT DISTINCT ?o WHERE { Q7 P1 ?o }")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    scan = plan.split("FileScan parquet")[1]
    pushed = scan.split("PushedFilters:")[1].splitlines()[0]
    assert "EqualTo(subj,Q7)" in pushed, scan[:2000]
    assert "EqualTo(pred,P1)" in pushed, scan[:2000]


def test_sparql_count_has_partial_aggregate(spark):
    """Grouped COUNT compiles to Spark's two-phase hash aggregate
    (map-side partial + final) — the agg shuffles pre-combined rows,
    not raw bindings."""
    q = ("SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s P2 ?o } GROUP BY ?s")
    plan = (
        sparql.evaluate(graph(spark), q)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("HashAggregate") >= 2, plan[:1500]
    assert "partial_count" in plan, plan[:1500]


def test_sparql_not_exists_is_anti_join(spark):
    q = ("SELECT ?s WHERE { ?s P1 ?o . "
         "FILTER NOT EXISTS { ?s P0 ?z } }")
    plan = (
        sparql.evaluate(graph(spark), q)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan, plan[:1500]


# --- BIND / HAVING / ORDER BY on non-projected vars -----------------------

def test_bind_concat_and_arith(spark):
    q = ('SELECT ?s ?lab WHERE { ?s P2 ?o . '
         'BIND(CONCAT(?s, "-", ?o) AS ?lab) }')
    assert rows(sparql.evaluate(graph(spark), q)) == {
        ("Q3", "Q3-Q5"), ("Q3", "Q3-Q6")
    }
    df = spark.createDataFrame(
        [("a", "P9", "3"), ("b", "P9", "12")],
        "subj string, pred string, obj string",
    )
    q2 = "SELECT ?s ?twice WHERE { ?s P9 ?v . BIND(?v * 2 AS ?twice) }"
    assert rows(sparql.evaluate(df, q2)) == {("a", 6.0), ("b", 24.0)}


def test_bind_errors(spark):
    with pytest.raises(sparql.SparqlError, match="rebind"):
        sparql.evaluate(
            graph(spark),
            "SELECT ?s WHERE { ?s P1 ?o . BIND(?s AS ?o) }")
    with pytest.raises(sparql.SparqlError, match="unbound"):
        sparql.evaluate(
            graph(spark),
            "SELECT ?s WHERE { ?s P1 ?o . BIND(?zz AS ?x) }")


def test_having_alias_and_aggregate_forms(spark):
    q = ("SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } "
         "GROUP BY ?s HAVING(?n >= 2)")
    assert rows(sparql.evaluate(graph(spark), q)) == {("Q3", 2), ("Q7", 2)}
    q2 = ("SELECT ?s WHERE { ?s ?p ?o } "
          "GROUP BY ?s HAVING(COUNT(?o) < 2)")
    assert rows(sparql.evaluate(graph(spark), q2)) == {("Q9",)}
    with pytest.raises(sparql.SparqlError, match="HAVING requires"):
        sparql.evaluate(graph(spark),
                        "SELECT ?s WHERE { ?s P1 ?o } HAVING(?s > 1)")


def test_order_by_non_projected_var(spark):
    df = spark.createDataFrame(
        [("a", "P9", "3"), ("b", "P9", "1"), ("c", "P9", "2")],
        "subj string, pred string, obj string",
    )
    q = "SELECT ?s WHERE { ?s P9 ?v } ORDER BY ?v LIMIT 2"
    assert [r.s for r in sparql.evaluate(df, q).collect()] == ["b", "c"]
    with pytest.raises(sparql.SparqlError, match="DISTINCT"):
        sparql.evaluate(
            df, "SELECT DISTINCT ?s WHERE { ?s P9 ?v } ORDER BY ?v")


# --- ASK / CONSTRUCT / DESCRIBE / OFFSET ----------------------------------

def test_ask_true_false(spark):
    assert rows(sparql.evaluate(graph(spark), "ASK { Q7 P0 ?o }")) == {
        (True,)
    }
    assert rows(sparql.evaluate(graph(spark), "ASK WHERE { Q5 ?p ?o }")) == {
        (False,)
    }


def test_construct_template(spark):
    q = ("CONSTRUCT { ?o cameFrom ?s . ?s kind thing } "
         "WHERE { ?s P2 ?o }")
    out = sparql.evaluate(graph(spark), q)
    assert out.columns == ["subj", "pred", "obj"]
    assert rows(out) == {
        ("Q5", "cameFrom", "Q3"), ("Q6", "cameFrom", "Q3"),
        ("Q3", "kind", "thing"),
    }


def test_describe_resource(spark):
    out = sparql.evaluate(graph(spark), "DESCRIBE Q3")
    assert rows(out) == {
        ("Q7", "P1", "Q3"), ("Q3", "P2", "Q5"),
        ("Q3", "P2", "Q6"), ("Q9", "P1", "Q3"),
    }


def test_limit_offset_slice(spark):
    df = spark.createDataFrame(
        [("a", "P9", "1"), ("b", "P9", "2"), ("c", "P9", "3"),
         ("d", "P9", "4")],
        "subj string, pred string, obj string",
    )
    q = "SELECT ?s WHERE { ?s P9 ?v } ORDER BY ?v LIMIT 2 OFFSET 1"
    assert [r.s for r in sparql.evaluate(df, q).collect()] == ["b", "c"]


# --- subqueries -----------------------------------------------------------

def test_subquery_aggregate_joins_outer(spark):
    # per-subject P2 degree from an inner aggregate subquery, joined
    # to the outer pattern on the projected ?s
    q = ("SELECT DISTINCT ?s ?n ?o WHERE { "
         "{ SELECT ?s (COUNT(?x) AS ?n) WHERE { ?s P2 ?x } GROUP BY ?s } "
         "?s P0 ?o }")
    assert rows(sparql.evaluate(graph(spark), q)) == set()
    # Q3 has P2 edges but no P0 self-loop; Q7 has P0 but no P2 — empty.
    q2 = ("SELECT DISTINCT ?s ?n WHERE { "
          "{ SELECT ?s (COUNT(?x) AS ?n) WHERE { ?s P2 ?x } GROUP BY ?s } "
          "?s ?p ?o }")
    assert rows(sparql.evaluate(graph(spark), q2)) == {("Q3", 2)}


def test_subquery_limit_scopes_inside(spark):
    df = spark.createDataFrame(
        [("a", "P9", "1"), ("b", "P9", "2"), ("c", "P9", "3")],
        "subj string, pred string, obj string",
    )
    q = ("SELECT ?s ?v WHERE { "
         "{ SELECT ?s ?v WHERE { ?s P9 ?v } ORDER BY ?v LIMIT 2 } "
         "?s P9 ?v }")
    assert rows(sparql.evaluate(df, q)) == {("a", "1"), ("b", "2")}
