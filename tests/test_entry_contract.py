"""Driver-contract smoke tests for __spark_entry__."""

from __future__ import annotations

import __spark_entry__ as entry


def test_entry_returns_rows(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"conv_id", "subj", "pred", "obj"}


def test_every_query_has_callable_and_oracle_keys_align(spark):
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert qs, "no queries registered"
    # every oracle key must have a query; queries without oracle are
    # allowed (rows-only check) but should be rare
    missing_queries = set(oracles) - set(qs)
    assert not missing_queries, missing_queries
    no_oracle = set(qs) - set(oracles)
    assert no_oracle <= {"simhash_docs", "minhash_lsh_pairs_fast"}, no_oracle


def test_queries_runnable_smoke(spark):
    """Each callable builds a valid plan and returns rows at sf0.001."""
    qs = entry.queries()
    for name, fn in qs.items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.limit(1).count() >= 0, name


def test_statement_queries_plan_over_filled_cache(spark):
    """The four kg_statement_* queries project one persisted occurrence
    table; it is filled before any of them is planned, so each reads
    its hashpartitioning(conv_id) and plans no exchange outside
    broadcasts."""
    from tests.test_operators import SF
    from tests.test_reify_golden import _fact_path_exchanges

    for df in entry._REIFIED_CACHE.values():
        df.unpersist()
    entry._REIFIED_CACHE.clear()
    qs = entry.queries()
    for name in (
        "kg_statements_reified", "kg_statement_qualifiers",
        "kg_statement_references", "kg_statement_value_nodes",
    ):
        plan = qs[name](spark, SF)._jdf.queryExecution().executedPlan()
        plan = plan.toString()
        assert _fact_path_exchanges(plan) == [], (name, plan[:4000])
