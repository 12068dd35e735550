"""Dictionary encoding (SURVEY.md §2.3 J6, §1.2).

The reference dictionary-encodes every RDF term into a type-tagged
int64 (NumericValueFactory.java, RWStringStore RocksStore.java:403-453)
so index keys and comparisons are long-vs-long. The Spark analog is a
dict *table* built with a deterministic rank over distinct terms, and
encode/decode as broadcast joins.

Determinism + scale: ids equal the global `dense_rank over (order by
term)` (what the DuckDB oracle computes), but the assignment is
DISTRIBUTED — range-partition the distinct terms, rank locally within
each range bucket, then add per-bucket offsets (a zipWithIndex-style
two-pass). No single-partition Exchange anywhere in the plan
(asserted by tests/test_operators.py::test_dictionary_plan_distributed);
the offsets pass aggregates one row per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import release_checkpoint


def _distinct_terms(triples: DataFrame) -> DataFrame:
    return (
        triples.select(F.col("subj").alias("term"))
        .unionByName(triples.select(F.col("pred").alias("term")))
        .unionByName(triples.select(F.col("obj").alias("term")))
        .distinct()
    )


def build_dictionary(triples: DataFrame) -> DataFrame:
    """(term, id): every distinct subj/pred/obj, densely numbered 1..N
    in global term order.

    Two-pass distributed rank (reference encodes terms serially into
    RocksDB, RocksStore.java:403-453 — a Spark engine must not):

      1. `repartitionByRange(term)` — globally ordered, non-overlapping
         buckets; rank within each bucket in parallel
         (`row_number over (partition by bucket)`, distinct terms ⇒
         row_number ≡ dense_rank).
      2. per-bucket counts → cumulative offsets (one row per bucket,
         broadcast back); id = offset + local rank.

    Ids are independent of the sampled range boundaries — any ordered
    non-overlapping bucketing enumerates the sorted term sequence
    identically — so output matches the oracle's global dense_rank.
    Buckets: spark.sql.shuffle.partitions.
    """
    return _rank_terms(_distinct_terms(triples))


def extend_dictionary(existing: DataFrame, triples: DataFrame) -> DataFrame:
    """Get-or-insert dictionary maintenance (the reference's day-2
    load semantics: RWStringStore assigns an id on FIRST encounter and
    never reassigns, RocksStore.java:403-453). Terms already present
    in `existing` keep their ids verbatim; terms new in `triples` are
    appended AFTER the existing max id, ordered among themselves by
    the same distributed two-pass rank. Returns the extended
    (term, id) table — a superset of `existing`, id-stable, so every
    previously written encoded fact table remains decodable."""
    new_terms = _distinct_terms(triples).join(
        existing.select("term"), "term", "left_anti"
    )
    base = existing.agg(
        F.coalesce(F.max("id"), F.lit(0)).cast("long").alias("_base")
    )
    appended = (
        _rank_terms(new_terms)
        .crossJoin(F.broadcast(base))
        .select("term", (F.col("id") + F.col("_base")).alias("id"))
    )
    return existing.select("term", "id").unionByName(appended)


def _rank_terms(terms: DataFrame) -> DataFrame:
    """The distributed global rank over a distinct (term) table —
    shared by build_dictionary (all terms) and extend_dictionary
    (new terms only)."""
    spark = terms.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = terms.repartitionByRange(n, "term").withColumn(
        "bucket", F.spark_partition_id()
    )
    wb = Window.partitionBy("bucket").orderBy("term")
    local = ranged.withColumn("local_id", F.row_number().over(wb).cast("long"))
    # pin ONE materialization: `local` feeds both the offsets branch and
    # the final join, and its bucket assignment comes from a sampled
    # range exchange + spark_partition_id. Relying on Catalyst's
    # ReuseExchange to keep the two branches consistent is fragile
    # (plan canonicalization changes / Connect could split them into
    # two shuffles with different sampled boundaries → wrong ids);
    # localCheckpoint makes both consumers read the same blocks.
    local = local.localCheckpoint()
    counts = local.groupBy("bucket").agg(F.count("*").alias("cnt"))
    # offsets: one row per bucket — metadata-sized. A running-sum window
    # would add an Exchange SinglePartition node; a broadcast non-equi
    # self-join (≤ n² tiny rows) keeps the whole plan free of them.
    lower = counts.select(
        F.col("bucket").alias("lb"), F.col("cnt").alias("lcnt")
    )
    offsets = (
        counts.join(F.broadcast(lower), F.col("lb") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(F.coalesce(F.sum("lcnt"), F.lit(0)).alias("offset"))
    )
    out = local.join(F.broadcast(offsets), "bucket").select(
        "term", (F.col("offset") + F.col("local_id")).alias("id")
    )
    out._pinned = local  # for release()
    return out


def release(dictionary: DataFrame) -> None:
    """Drop the ranked-term blocks `build_dictionary` pinned with
    localCheckpoint; Spark frees them only when the JVM garbage-collects
    the plan. Call it once every consumer of `dictionary` has run: the
    frame cannot be evaluated afterwards."""
    pinned = getattr(dictionary, "_pinned", None)
    if pinned is not None:
        release_checkpoint(pinned)


def encode_triples(triples: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Rewrite (subj, pred, obj) → (subj_id, pred_id, obj_id) via three
    broadcast joins (ExprValueConverter analog: constants/fact columns
    become int64 before any further joins/filters)."""
    d = F.broadcast(dictionary)
    out = triples
    for col in ("subj", "pred", "obj"):
        out = (
            out.join(d.withColumnRenamed("term", col), col)
            .withColumnRenamed("id", f"{col}_id")
        )
    return out.drop("subj", "pred", "obj")


def decode_triples(encoded: DataFrame, dictionary: DataFrame) -> DataFrame:
    d = F.broadcast(dictionary)
    out = encoded
    for col in ("subj", "pred", "obj"):
        out = (
            out.join(
                d.select(F.col("id").alias(f"{col}_id"), F.col("term").alias(col)),
                f"{col}_id",
            )
        ).drop(f"{col}_id")
    return out
