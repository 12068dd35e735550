"""Property paths: general transitive closure (SURVEY.md §4).

Reference analog: SPARQL ``p+`` / ``p*`` property paths, rewritten by
PropertyPathOptimizer.java:19-91 and evaluated via RDF4J's
ArbitraryLengthPath. The Spark shape is an iterative frontier BFS:

- seed with the 1-hop edges (the optimizer's "seed with one step"
  rewrite); bound origins are semi-joined into them, so a one-row seed
  adds no shuffle,
- each round joins the frontier with the edge table and anti-joins the
  visited set (cycle-safe: a node reached twice contributes nothing
  new, so the loop terminates on any finite graph),
- each round's new pairs are materialized once (``localCheckpoint()``,
  which cuts lineage so the plan doesn't grow exponentially — same
  pattern as canonicalize.py); the visited set is the union of those
  per-round blocks, never re-copied.

Scale notes (100 TB): each round is one shuffle join keyed on the
frontier's ``dst``; the visited anti-join is keyed on (src, dst). An
unrestricted all-pairs closure is O(V·E) — at scale you bind one end
(``seeds``), exactly what a SPARQL engine does when the subject of
``?s p+ ?o`` is bound. Rounds are O(diameter), not O(path count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_HOPS = 64


def transitive_closure(
    edges: DataFrame,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """All (src, dst) pairs connected by a directed path of ≥1 edge
    (SPARQL ``p+`` semantics; reflexive pairs appear only when a cycle
    returns to the origin, as in ArbitraryLengthPath).

    edges: (src, dst). seeds: optional one-column DataFrame (``src``)
    restricting origins — the bound-subject rewrite, applied as a
    semi-join of the edge table (duplicate seeds change nothing).

    Materializations: the distinct edge table once, the seeded first
    frontier once, then one block per round (that round's new pairs).
    `reached` is the union of the frontier and the round blocks; they
    are pairwise disjoint because each round anti-joins everything
    reached before it, so the union needs no distinct. A closure still
    growing after MAX_HOPS rounds raises, so the union has at most that
    many scans.
    """
    # r7: materialize the deduped edge table ONCE. Every BFS round
    # joins against `e`; without the checkpoint each round re-evaluated
    # the whole upstream plan (for kg_closure: a distinct over the full
    # 1.5M-row ranges table PER ROUND — O(rounds) full passes, guide
    # §2.4/§5). One eager localCheckpoint turns that into one pass.
    e = edges.select("src", "dst").distinct().localCheckpoint()
    if seeds is not None:
        frontier = e.join(
            seeds.select("src"), "src", "left_semi"
        ).localCheckpoint()
    else:
        frontier = e  # already materialized above — no second copy
    reached = frontier
    for _ in range(1, MAX_HOPS):
        step = e.selectExpr("src AS _mid", "dst AS _nxt")
        nxt = (
            frontier.join(step, frontier["dst"] == step["_mid"])
            .select("src", F.col("_nxt").alias("dst"))
            .distinct()
        )
        fresh = nxt.join(reached, ["src", "dst"], "left_anti").localCheckpoint()
        if fresh.isEmpty():
            return reached
        reached = reached.unionByName(fresh)
        frontier = fresh
    raise RuntimeError(
        f"transitive_closure still growing after {MAX_HOPS} hops — raise "
        "MAX_HOPS if the graph genuinely has longer shortest paths"
    )


# --- path algebra (the remaining PropertyPathOptimizer rewrites:
# inverse ^p, sequence p1/p2, alternative p1|p2, star p*) -------------

def inverse_path(edges: DataFrame) -> DataFrame:
    """``^p`` — swap subject/object."""
    return edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )


def seq_path(a: DataFrame, b: DataFrame) -> DataFrame:
    """``p1/p2`` — relational composition (one equi-join, deduped)."""
    bb = b.selectExpr("src AS _mid", "dst AS _dst")
    return (
        a.join(bb, a["dst"] == bb["_mid"])
        .select("src", F.col("_dst").alias("dst"))
        .distinct()
    )


def alt_path(a: DataFrame, b: DataFrame) -> DataFrame:
    """``p1|p2`` — set union."""
    return a.select("src", "dst").unionByName(b.select("src", "dst")).distinct()


def zero_or_one(edges: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """``p?`` — the edges plus the zero-length identity over the node
    universe (SPARQL ZeroOrOnePath; same identity convention as
    `zero_or_more`)."""
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    identity = nodes.select(
        F.col("node").alias("src"), F.col("node").alias("dst")
    )
    return identity.unionByName(edges.select("src", "dst")).distinct()


def negated_property_set(triples: DataFrame, preds: list[str]) -> DataFrame:
    """``!(p1|p2|...)`` — edges whose predicate is NOT in the set
    (SPARQL negated property set; the reference evaluates it as a
    predicate-filtered scan, which Catalyst pushes into the source —
    an IN-list filter, never a join)."""
    return (
        triples.filter(~F.col("pred").isin(preds))
        .select(F.col("subj").alias("src"), "pred", F.col("obj").alias("dst"))
        .distinct()
    )


def zero_or_more(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """``p*`` — transitive closure plus the zero-length identity over
    the node universe (every evaluated node relates to itself, per
    SPARQL ZeroOrMorePath). `nodes` defaults to the endpoints of
    `edges`; pass the full term universe for SPARQL-exact semantics
    over a larger graph."""
    if nodes is None:
        nodes = edges.select(F.col("src").alias("node")).unionByName(
            edges.select(F.col("dst").alias("node"))
        ).distinct()
    if seeds is not None:
        nodes = nodes.join(
            seeds.select(F.col("src").alias("node")), "node", "left_semi"
        )
    identity = nodes.select(
        F.col("node").alias("src"), F.col("node").alias("dst")
    )
    plus = transitive_closure(edges, seeds=seeds)
    return identity.unionByName(plus).distinct()


def pagerank(
    edges: DataFrame, iterations: int = 10, damping: float = 0.85
) -> DataFrame:
    """(node, rank): fixed-iteration power-method PageRank over a
    directed edge table — the classic KG "importance" materialization
    over the canonical entity graph.

    Standard form WITH dangling-mass redistribution (mirrored exactly
    by the SQL oracle): nodes with no out-edges leak their rank, which
    is re-spread uniformly each iteration —
        rank' = (1-d)/N + d * (Σ_in rank(src)/out_deg(src) + D/N)
    where D = Σ rank over dangling nodes.

    Scale shape: each iteration is one shuffle join on src + one
    aggregation on dst, plus one anti-join + global agg for the
    dangling sum (a ONE-ROW DataFrame, attached via broadcast
    crossJoin — no driver action inside the loop); lineage cut with
    localCheckpoint per iteration (same pattern as the closure/CC
    loops). N is a one-time count — metadata, not data, on the driver.
    """
    # r7: materialize the distinct edge table and the out-degree dim
    # ONCE — both are re-read in every one of the `iterations` rounds
    # (contribs join + dangling anti-join), and without the checkpoints
    # each round re-evaluated their full upstream plans (for
    # kg_pagerank: 10 distinct passes + 10 degree aggregations over
    # the ranges table — guide §2.4/§5; this was the single slowest
    # contract query in the r6 verdict).
    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(out_deg, "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        dang = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        ranks = (
            nodes.join(contribs.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(base)
                    + damping
                    * (F.coalesce("s", F.lit(0.0)) + F.col("dm") / n)
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def pagerank_sql_tail(iterations: int = 10, damping: float = 0.85) -> str:
    """DuckDB twin: the power iteration unrolled as chained CTEs
    (standard SQL forbids aggregation in a recursive member). Expects
    a CTE ``pr_edges(src, dst)`` (distinct) in scope; appends pr_* CTEs
    and the final SELECT. All float expressions are written so both
    engines execute the identical IEEE operations."""
    d = repr(damping)
    # NB 1: a top-level UNION in a CTE body under WITH RECURSIVE is
    # treated by DuckDB as recursive anchor/step and does NOT dedup —
    # always wrap as DISTINCT over a UNION ALL subquery.
    # NB 2: every multiply-referenced CTE is AS MATERIALIZED — DuckDB
    # inlines plain CTEs per reference, and with pr_r{i} referenced
    # twice per iteration (contrib join + dangling sum) the inlined
    # prefix re-expands 2^iterations times, re-opening the base parquet
    # thousands of times ("Too many open files").
    parts = [
        "pr_base AS MATERIALIZED (SELECT src, dst FROM pr_edges)",
        "pr_nodes AS MATERIALIZED (SELECT DISTINCT node FROM ("
        "SELECT src AS node FROM pr_base "
        "UNION ALL SELECT dst AS node FROM pr_base))",
        "pr_n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM pr_nodes)",
        "pr_deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM pr_base GROUP BY src)",
        "pr_r0 AS MATERIALIZED "
        "(SELECT node, 1.0 / (SELECT n FROM pr_n) AS rank FROM pr_nodes)",
    ]
    for i in range(1, iterations + 1):
        prev = f"pr_r{i - 1}"
        # dangling mass: rank parked on nodes with no out-edges,
        # redistributed uniformly (identical FP order to the Spark
        # loop: d * (contrib + dm/n))
        parts.append(
            f"pr_d{i} AS MATERIALIZED "
            f"(SELECT coalesce(sum(rank), 0) AS dm FROM {prev} "
            f"WHERE node NOT IN (SELECT src FROM pr_base))"
        )
        parts.append(
            f"pr_r{i} AS MATERIALIZED (SELECT nn.node, "
            f"(1 - {d}) / (SELECT n FROM pr_n) + {d} * (coalesce(c.s, 0) "
            f"+ (SELECT dm FROM pr_d{i}) / (SELECT n FROM pr_n)) AS rank "
            f"FROM pr_nodes nn LEFT JOIN ("
            f"SELECT e.dst AS node, sum(r.rank / dg.deg) AS s "
            f"FROM pr_base e JOIN {prev} r ON e.src = r.node "
            f"JOIN pr_deg dg ON e.src = dg.src GROUP BY e.dst) c "
            f"ON nn.node = c.node)"
        )
    return (
        ", ".join(parts)
        + f" SELECT node, round(rank, 6) AS rank FROM pr_r{iterations}"
    )
