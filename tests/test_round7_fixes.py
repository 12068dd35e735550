"""Round-7 correctness fixes (the three r6 ADVICE items): the
alias-form GROUP_CONCAT HAVING guard, rdf:type/`a` spelling unification
under a declared rdf: prefix, and the thread-safe lazy store init in
the WSGI endpoint."""

from __future__ import annotations

import threading

import pytest

from wikidata_sparql_history_spark import web
from wikidata_sparql_history_spark.plans import sparql, views
from wikidata_sparql_history_spark.session import release_checkpoint
from tests.test_sparql import graph, rows


def test_having_group_concat_alias_rejected(spark):
    """SELECT (GROUP_CONCAT(?o) AS ?os) ... HAVING(?os > 1) must hit
    the same loud reject as the inline form — previously the concat
    string was cast to double → NULL → every group silently dropped."""
    g = graph(spark)
    with pytest.raises(sparql.SparqlError, match="GROUP_CONCAT numerically"):
        sparql.evaluate(
            g, "SELECT ?s (GROUP_CONCAT(?o) AS ?os) WHERE { ?s P2 ?o } "
               "GROUP BY ?s HAVING(?os > 1)")
    # a numeric aggregate alias in HAVING still works
    out = sparql.evaluate(
        g, "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s P2 ?o } "
           "GROUP BY ?s HAVING(?n >= 2)")
    assert rows(out) == {("Q3", 2)}


def test_rdf_type_spellings_match_same_triples(spark):
    """With PREFIX rdf: declared, `a`, `rdf:type` and the full IRI all
    resolve to the store's short form and match the same triples."""
    g = spark.createDataFrame(
        [("Q7", "rdf:type", "Q1"), ("Q8", "P1", "Q1")],
        "subj string, pred string, obj string",
    )
    expected = {("Q7",)}
    q_a = "SELECT ?s WHERE { ?s a Q1 }"
    q_pfx = (
        "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>\n"
        "SELECT ?s WHERE { ?s rdf:type Q1 }"
    )
    q_full = ("SELECT ?s WHERE { ?s "
              "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> Q1 }")
    assert rows(sparql.evaluate(g, q_a)) == expected
    assert rows(sparql.evaluate(g, q_pfx)) == expected
    assert rows(sparql.evaluate(g, q_full)) == expected
    # both spellings inside ONE query bind the same predicate
    q_both = (
        "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>\n"
        "SELECT ?s ?t WHERE { ?s a ?t . ?s rdf:type ?t }"
    )
    assert rows(sparql.evaluate(g, q_both)) == {("Q7", "Q1")}


def test_web_lazy_init_loads_store_once_under_concurrency(spark, tmp_path, monkeypatch):
    """Concurrent first requests must run cli._load exactly once."""
    from wikidata_sparql_history_spark import cli

    calls = []
    real_load = cli._load
    ready = threading.Barrier(4)

    def counting_load(sp, store_path):
        calls.append(store_path)
        g = spark.createDataFrame(
            [("c1", "Q7", "P0", "Q7", 0, 9)],
            "conv_id string, subj string, pred string, obj string, "
            "range_start long, range_end long",
        )
        return g, None

    monkeypatch.setattr(cli, "_load", counting_load)
    built = []
    real_index = views.triple_index
    monkeypatch.setattr(
        views, "triple_index", lambda r: built.append(real_index(r)) or built[-1])
    app = web.make_app(spark, str(tmp_path), max_rows=10)

    results = []

    def hit():
        ready.wait()
        from tests.test_web import call
        results.append(call(app, query="ASK { Q7 P0 ?o }")[0])

    threads = [threading.Thread(target=hit) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1, f"store loaded {len(calls)} times"
    assert all(s.startswith("200") for s in results)
    assert real_load is not cli._load  # monkeypatched for this test only
    assert len(built) == 1
    release_checkpoint(built[0])   # the app keeps it for its lifetime
