"""Statement-reification golden test (SURVEY.md §5 item 1 —
RdfBuilderTest.java:41-66 analog): fixed fixture turns → exact
expected statement nodes, qualifier rows, and reference rows."""

from __future__ import annotations

import datetime as dt
import hashlib

from wikidata_sparql_history_spark import synth
from wikidata_sparql_history_spark.pipeline import reify

TS = dt.datetime(2024, 1, 1)

TEXTS = {
    # plain statement, no markers
    "c0": "x [[E1]] <<P2>> [[E3]]",
    # preferred rank + qualifier + reference on one segment
    "c1": "[[E1]] <<P2>>! [[E3]] ((P4:E5)) {{S6}}",
    # two statements same (subj, pred): one preferred → best_rank only
    # on the preferred one (BestRankFilter)
    "c2": "[[E1]] <<P2>>! [[E3]] <<P2>> [[E8]]",
    # two normals, no preferred → both best
    "c3": "[[E1]] <<P2>> [[E3]] <<P2>> [[E8]]",
    # qualifier object is itself linkable+canonicalizable (E30 → Q30 → Q5)
    "c4": "[[E1]] <<P2>> [[E3]] ((P4:E30))",
    # snak trichotomy (RdfBuilder.java:273-285)
    "c5": "[[E1]] <<P2>> [[E3]] ((P4:?))",   # SomeValueSnak → skolem bnode
    "c6": "[[E1]] <<P2>> [[E3]] ((P4:!))",   # NoValueSnak → wdno: marker
    # complex values → pq: simple form + pqv:/wdv: hashed value node
    # with component triples (RdfBuilder.java:377-425): quantity /
    # time / globe coordinate
    "c7": "[[E1]] <<P2>> [[E3]] ((P4:V42))",
    "c8": "[[E1]] <<P2>> [[E3]] ((P4:T10))",   # 2024-01-01 + 10 days
    "c9": "[[E1]] <<P2>> [[E3]] ((P4:C200))",  # lat -70, lon 140
}


def _sid(conv, turn, s, p, o):
    raw = "\x1f".join([conv, str(turn), s, p, o])
    return hashlib.sha256(raw.encode()).hexdigest()[:16]


def _rid(src):
    return hashlib.sha256(f"ref\x1f{src}".encode()).hexdigest()[:16]


def test_reify_golden(spark):
    rows = [
        (c, 1, "user", text, "", TS) for c, text in TEXTS.items()
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    r = reify.reify_statements(
        df, synth.candidate_dict(spark), synth.alias_edges(spark)
    )

    nodes = {
        (x.conv_id, x.turn_idx, x.stmt_id, x.subj, x.pred, x.obj,
         x.stmt_rank, x.best_rank)
        for x in reify.statement_nodes(r).collect()
    }
    # E1→Q1, E3→Q3, E8→Q8 (linked, already canonical)
    expected_nodes = {
        ("c0", 1, _sid("c0", 1, "Q1", "P2", "Q3"), "Q1", "P2", "Q3", "normal", 1),
        ("c1", 1, _sid("c1", 1, "Q1", "P2", "Q3"), "Q1", "P2", "Q3", "preferred", 1),
        # preferred exists in (c2, Q1, P2) → the normal one is NOT best
        ("c2", 1, _sid("c2", 1, "Q1", "P2", "Q3"), "Q1", "P2", "Q3", "preferred", 1),
        ("c2", 1, _sid("c2", 1, "Q1", "P2", "Q8"), "Q1", "P2", "Q8", "normal", 0),
        # no preferred → both best
        ("c3", 1, _sid("c3", 1, "Q1", "P2", "Q3"), "Q1", "P2", "Q3", "normal", 1),
        ("c3", 1, _sid("c3", 1, "Q1", "P2", "Q8"), "Q1", "P2", "Q8", "normal", 1),
        ("c4", 1, _sid("c4", 1, "Q1", "P2", "Q3"), "Q1", "P2", "Q3", "normal", 1),
        ("c5", 1, _sid("c5", 1, "Q1", "P2", "Q3"), "Q1", "P2", "Q3", "normal", 1),
        ("c6", 1, _sid("c6", 1, "Q1", "P2", "Q3"), "Q1", "P2", "Q3", "normal", 1),
        ("c7", 1, _sid("c7", 1, "Q1", "P2", "Q3"), "Q1", "P2", "Q3", "normal", 1),
        ("c8", 1, _sid("c8", 1, "Q1", "P2", "Q3"), "Q1", "P2", "Q3", "normal", 1),
        ("c9", 1, _sid("c9", 1, "Q1", "P2", "Q3"), "Q1", "P2", "Q3", "normal", 1),
    }
    assert nodes == expected_nodes

    quals = {
        (x.stmt_id, x.qual_pred, x.qual_obj, x.snak_type)
        for x in reify.statement_qualifiers(r).collect()
    }
    sid5 = _sid("c5", 1, "Q1", "P2", "Q3")
    bnode5 = "_:" + hashlib.sha256(f"{sid5}\x1fP4".encode()).hexdigest()[:16]
    # c4's qualifier object E30 links to Q30, which canonicalizes to Q5
    expected_quals = {
        (_sid("c1", 1, "Q1", "P2", "Q3"), "P4", "Q5", "value"),
        (_sid("c4", 1, "Q1", "P2", "Q3"), "P4", "Q5", "value"),
        (sid5, "P4", bnode5, "somevalue"),
        (_sid("c6", 1, "Q1", "P2", "Q3"), "P4", "wdno:P4", "novalue"),
        # complex-value pq: simple forms — signed amount lexical /
        # '+date'T time lexical / WKT point
        (_sid("c7", 1, "Q1", "P2", "Q3"), "P4", "+42", "value"),
        (_sid("c8", 1, "Q1", "P2", "Q3"), "P4", "+2024-01-11T00:00:00Z", "value"),
        (_sid("c9", 1, "Q1", "P2", "Q3"), "P4", "Point(140 -70)", "value"),
    }
    assert quals == expected_quals

    # pqv:/wdv: full value nodes, content-hashed per kind, long-form
    # component triples (two per node)
    vnodes = {
        (x.stmt_id, x.qual_pred, x.val_id, x.kind, x.comp, x.comp_value)
        for x in reify.statement_value_nodes(r).collect()
    }
    sid7 = _sid("c7", 1, "Q1", "P2", "Q3")
    sid8 = _sid("c8", 1, "Q1", "P2", "Q3")
    sid9 = _sid("c9", 1, "Q1", "P2", "Q3")
    vid7 = "wdv:" + hashlib.sha256("quantity\x1f42\x1f1".encode()).hexdigest()[:16]
    iso8 = "+2024-01-11T00:00:00Z"
    vid8 = "wdv:" + hashlib.sha256(f"time\x1f{iso8}\x1f11".encode()).hexdigest()[:16]
    vid9 = "wdv:" + hashlib.sha256("globe\x1f-70\x1f140".encode()).hexdigest()[:16]
    assert vnodes == {
        (sid7, "P4", vid7, "quantity", "quantityAmount", "+42"),
        (sid7, "P4", vid7, "quantity", "quantityUnit", "1"),
        (sid8, "P4", vid8, "time", "timeValue", iso8),
        (sid8, "P4", vid8, "time", "timePrecision", "11"),
        (sid9, "P4", vid9, "globecoordinate", "geoLatitude", "-70"),
        (sid9, "P4", vid9, "globecoordinate", "geoLongitude", "140"),
    }

    refs = {
        (x.stmt_id, x.ref_id, x.ref_src)
        for x in reify.statement_references(r).collect()
    }
    assert refs == {(_sid("c1", 1, "Q1", "P2", "Q3"), _rid("S6"), "S6")}


def test_statement_nodes_single_exchange(spark):
    """statement_nodes must add exactly ONE hash exchange: the explicit
    (conv_id, subj, pred) repartition serves the 7-column distinct
    (subset rule) AND the BestRank window — plan-asserted so a
    refactor can't silently reintroduce a second shuffle."""
    rows = [
        ("c0", 1, "user", "[[E1]] <<P2>> [[E3]] <<P2>>! [[E8]]", "", TS),
        ("c1", 1, "user", "[[E2]] <<P3>> [[E4]]", "", TS),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    r = reify.reify_statements(
        df, synth.candidate_dict(spark), synth.alias_edges(spark)
    )
    plan = (
        reify.statement_nodes(r)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly ONE exchange on the fact path (keyed by conv_id, the
    # explicit repartition); the remaining hash exchanges sit inside
    # the broadcast entity-map dimension subtree (mention/entity_id
    # keys, metadata-sized) and never touch the statement stream
    n_fact_exchanges = plan.count("Exchange hashpartitioning(conv_id")
    assert n_fact_exchanges == 1, plan[:4000]
    assert "Exchange SinglePartition" not in plan, plan[:4000]


def test_statements_agree_with_extraction_on_synth_corpus(spark):
    """Internal-consistency invariant: the statement layer parses
    segments (pred+obj inside one segment) while base extraction pairs
    positionally (i-th pred ↔ (i+1)-th mention) — over the synthetic
    grammar these MUST yield the identical (conv, turn, s, p, o) set,
    term-for-term after linking+canonicalization."""
    from wikidata_sparql_history_spark.pipeline import canonicalize, linking
    from wikidata_sparql_history_spark.pipeline.extract import (
        extract_triples_builtin,
    )

    t = synth.transcripts(spark, 60, shuffled=False)
    cand, ali = synth.candidate_dict(spark), synth.alias_edges(spark)
    base = canonicalize.canonicalize_triples(
        linking.link_mentions(extract_triples_builtin(t), cand), ali
    )
    base_set = {
        (r.conv_id, r.turn_idx, r.subj, r.pred, r.obj)
        for r in base.collect()
    }
    stmt = reify.statement_nodes(reify.reify_statements(t, cand, ali))
    stmt_set = {
        (r.conv_id, r.turn_idx, r.subj, r.pred, r.obj)
        for r in stmt.collect()
    }
    assert stmt_set == base_set
    assert len(stmt_set) > 1000


def _fact_path_exchanges(plan: str) -> list[str]:
    """Exchange lines of a plan tree string outside the broadcast
    dimension subtrees and outside cached-relation subtrees (whose
    exchanges ran once, when the cache was filled)."""
    out, skip_below = [], None
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        col = len(line) - len(body)
        if skip_below is not None and col > skip_below:
            continue
        skip_below = None
        if body.startswith(("BroadcastExchange", "InMemoryRelation")):
            skip_below = col
        elif body.startswith("Exchange"):
            out.append(body)
    return out


def test_statement_family_adds_no_exchange_on_clustered_input(spark):
    """Over a conv_id-clustered input every statement table keys its
    window / distinct on conv_id-prefixed columns, so the subset rule
    lets them reuse the input's hash(conv_id) partitioning: the only
    fact-path exchange is the input's own repartition, and over the
    persisted occurrences (the store build's shape) there is none."""
    rows = [(c, 1, "user", text, "", TS) for c, text in TEXTS.items()]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).repartition(3, "conv_id")
    r = reify.reify_statements(
        df, synth.candidate_dict(spark), synth.alias_edges(spark)
    )
    family = (
        reify.statement_nodes,
        reify.statement_qualifiers,
        reify.statement_references,
        reify.statement_value_nodes,
    )
    for fn in family:
        plan = fn(r)._jdf.queryExecution().executedPlan().toString()
        ex = _fact_path_exchanges(plan)
        assert len(ex) == 1, (fn.__name__, ex, plan[:4000])
        assert ex[0].startswith("Exchange hashpartitioning(conv_id#"), ex
        assert "REPARTITION_BY_NUM" in ex[0], ex
    cached = r.persist()
    try:
        # fill the cache before planning, as run_pipeline does: only a
        # filled cache reports its hashpartitioning(conv_id)
        cached.count()
        for fn in family:
            plan = fn(cached)._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, plan[:4000]
            assert _fact_path_exchanges(plan) == [], (fn.__name__, plan[:4000])
    finally:
        cached.unpersist()


def test_statement_terms_resolve_like_ranges(spark):
    """Statement and triples layers resolve terms through one map: a
    surface form that is an alias src but not a dictionary mention is
    canonicalized in both, not only in `ranges`."""
    from wikidata_sparql_history_spark.pipeline.construct import construct_ranges

    df = spark.createDataFrame(
        [("c0", 1, "user", "[[E5]] <<P1>> [[E9]]", "", TS)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    cand = spark.createDataFrame(
        [("E5", "Q5", 0.9)], "mention string, entity_id string, prior double"
    )
    ali = spark.createDataFrame([("E9", "Q3")], "src string, dst string")
    stmts = reify.statement_nodes(reify.reify_statements(df, cand, ali))
    assert {(r.subj, r.pred, r.obj) for r in stmts.collect()} == {
        ("Q5", "P1", "Q3")
    }
    for builtin in (True, False):
        ranges = construct_ranges(
            spark, df, cand, ali, use_builtin_extractor=builtin
        )
        assert {(r.subj, r.pred, r.obj) for r in ranges.collect()} == {
            ("Q5", "P1", "Q3")
        }, builtin
