"""Canonicalization: connected components / pointer-chasing over alias
edges (SURVEY.md §7.2-8; reference analog: owl:sameAs redirects,
RevisionFileConverter.java:110-116, and the PropertyPathOptimizer
transitive-path note at SURVEY.md §4).

Alias edges form chains/trees (a→b→c). We resolve every node to its
terminal representative with iterative **path-halving** joins:
repeatedly rewrite dst := canonical(dst) until fixpoint. Convergence
is O(log longest-chain) iterations; each iteration is one self-join.
Lineage is cut with `localCheckpoint()` every iteration so the plan
doesn't grow exponentially at scale (the north rule's "checkpointed
frontiers").

For undirected connected components (hash-min over arbitrary graphs)
see `connected_components` — the general loop used when alias edges
aren't a forest.

Nothing is cached across calls: a caller that needs one map in several
plans builds it once and passes it along (`materialize.run_pipeline`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_relation
from .linking import link_terms, resolve_dict

MAX_ITERS = 50

# alias tables at or below this row count resolve driver-side (one
# bounded collect, pure-python validation and pointer chase, one
# Arrow-built local relation) instead of paying several serial Spark
# jobs; above it, the distributed path-halving loop runs. The loop is
# the general/scale path — the fast path only applies when the whole
# alias dimension would have been broadcast anyway.
DRIVER_THRESHOLD = 100_000


def _canonical_map_driver(spark, rows) -> DataFrame:
    """Validate and resolve already-collected distinct (src, dst) rows.
    The map comes back as a `session.local_relation` (LocalTableScan):
    every plan that broadcasts it (the entity map, and each column
    `link_terms` rewrites) reads it with no job and no Python worker,
    where a pickled list re-ran a Python stage in each of them."""
    parent: dict[str, str] = {}
    for r in rows:
        if r["src"] in parent and parent[r["src"]] != r["dst"]:
            raise ValueError(
                f"alias edges are not functional: src {r['src']!r} has "
                f"multiple dsts ({parent[r['src']]!r}, {r['dst']!r}); "
                "route through connected_components() for general graphs"
            )
        parent[r["src"]] = r["dst"]
    out = []
    for src in parent:
        cur, hops = src, 0
        while cur in parent:
            if hops > len(parent):
                raise ValueError(
                    f"cycle in alias edges reachable from {src!r}; "
                    "route through connected_components() for general graphs"
                )
            cur = parent[cur]
            hops += 1
        out.append((src, cur))
    return local_relation(spark, ["src", "canon"], out, "string")


def canonical_map(
    alias_edges: DataFrame,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """(src, canon): terminal representative for every aliased node.

    PRECONDITION (validated): edges form a functional forest — each src
    has exactly one dst and no cycles exist. Non-forest inputs raise;
    use `connected_components` for arbitrary graphs. (The reference has
    the same assumption: a wiki redirect page has one target,
    RevisionFileConverter.java:110-116.)

    Pointer-chasing with path halving: map = src→dst; join map with
    itself (dst→dst') and set dst := dst' where present. Each round
    doubles resolved path length.
    """
    # exact duplicate (src, dst) rows are functionally valid — only a
    # src with two DIFFERENT dsts violates the forest precondition, so
    # the gate compares distinct edges against distinct srcs
    edges = alias_edges.select("src", "dst").dropDuplicates()
    if driver_threshold:
        # one bounded collect decides the path: at most threshold+1
        # rows reach the driver, and a small table is resolved from them
        rows = edges.limit(driver_threshold + 1).collect()
        if len(rows) <= driver_threshold:
            return _canonical_map_driver(alias_edges.sparkSession, rows)
    n, n_src = edges.agg(F.count("*"), F.countDistinct("src")).first()
    if n != n_src:
        raise ValueError(
            f"alias edges are not functional ({n} distinct edges, {n_src} "
            "distinct srcs); route through connected_components() for "
            "general graphs"
        )
    m = edges
    converged = False
    for _ in range(MAX_ITERS):
        nxt = m.selectExpr("src as j_src", "dst as j_dst")
        # plain shuffle join: the map is the BIG side here (the loop
        # only runs above driver_threshold), so forcing a broadcast of
        # nxt would ship the whole map to every executor each round and
        # OOM at scale; AQE still picks broadcast when it actually fits
        m2 = (
            m.join(nxt, F.col("dst") == F.col("j_src"), "left")
            .select("src", F.coalesce("j_dst", "dst").alias("dst"))
        )
        m2 = m2.localCheckpoint()  # cut lineage each round
        changed = (
            m2.selectExpr("src", "dst as new_dst")
            .join(m.selectExpr("src", "dst as old_dst"), "src")
            .filter(F.col("new_dst") != F.col("old_dst"))
        )
        if changed.isEmpty():
            m = m2
            converged = True
            break
        m = m2
    if not converged:
        raise ValueError(
            f"canonical_map did not converge in {MAX_ITERS} path-halving "
            "rounds — alias edges likely contain a cycle; route through "
            "connected_components() for general graphs"
        )
    return m.withColumnRenamed("dst", "canon")


def connected_components(edges: DataFrame) -> DataFrame:
    """General undirected CC via hash-min label propagation.

    Returns (node, component) where component = min node id of the
    component (string min). Iterative join + groupBy-min with
    checkpointed frontier; converges in O(diameter) rounds.
    """
    # r7: materialize the symmetrized edge table once — it is joined in
    # EVERY label-propagation round, and `edges` can be an arbitrarily
    # expensive upstream plan (dedup_clusters feeds the whole n-gram
    # Jaccard pipeline in here); without the checkpoint each round
    # re-evaluated it from scratch (guide §2.4/§5).
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node"))
    for _ in range(MAX_ITERS):
        # neighbor's current label, propagated
        prop = (
            sym.join(labels, sym["dst"] == labels["node"])
            .select(sym["src"].alias("node"), "component")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
        )
        if changed.isEmpty():
            return new_labels
        labels = new_labels
    return labels


def canonicalize_triples(
    triples: DataFrame,
    alias_edges: DataFrame,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """Rewrite subj/obj through the canonical map (broadcast join —
    the alias universe is tiny relative to the fact table).

    `driver_threshold=0` forces the distributed path-halving loop in
    `canonical_map` (the scale path) regardless of alias-table size —
    used by the ★kg_linked_distributed contract query so the loop
    itself is oracle-exercised, not just the driver fast path."""
    cmap = canonical_map(alias_edges, driver_threshold=driver_threshold)
    return link_terms(triples, cmap, ("subj", "obj")).select(
        "conv_id", "turn_idx", "subj", "pred", "obj"
    )


def entity_map(
    candidates: DataFrame | None, alias_edges: DataFrame | None
) -> DataFrame:
    """(term, entity): link-then-canonicalize as ONE rewrite map — the
    argmax-prior candidate (`resolve_dict`), then its alias-canonical
    representative. Every dictionary mention maps to
    canon(resolve(mention)); every alias src that is not a dictionary
    mention maps to canon(src). With one input None the map is the
    other step alone (at least one must be given). `link_terms` passes
    misses through, so one rewrite through this map equals linking,
    then canonicalizing. A store build passes one map to the triples
    layer (construct.ranges_plan) and the statement layer."""
    if alias_edges is not None:
        cmap = canonical_map(alias_edges).toDF("term", "entity")
        if candidates is None:
            return cmap
    best = resolve_dict(candidates).select(
        F.col("mention").alias("term"), F.col("entity_id").alias("entity")
    )
    if alias_edges is None:
        return best
    linked = link_terms(best, cmap, ("entity",)).select("term", "entity")
    return linked.unionByName(cmap.join(best.select("term"), "term", "left_anti"))
