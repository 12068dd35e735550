"""Entity linking: mention surface form → entity id (SURVEY.md §7.2-8).

The reference only sketches linking via redirect → owl:sameAs
(RevisionFileConverter.java:110-116); the north rule makes it a
first-class stage: a **broadcast** join against the candidate
dictionary, with argmax-prior disambiguation, plus an explicit
**salted join** variant for hot-entity skew (one surface form can
appear in a large fraction of all mentions — E7 in the synthetic
corpus).

Design notes for 100 TB:
- the dictionary is small (≤ millions of rows) → `F.broadcast` keeps
  the fact-table side shuffle-free; AQE would pick this anyway under
  the 10 MB threshold but we declare intent.
- with a broadcast join, skew is irrelevant (no shuffle on the key).
  The salted path exists for the case where the dictionary outgrows
  broadcast range: salt the *dictionary* side by exploding each hot
  key into SALT_BUCKETS copies and salt the fact side with a
  deterministic hash-based bucket, so one hot key fans out over
  SALT_BUCKETS reducers instead of one straggler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SALT_BUCKETS = 16


def resolve_dict(candidates: DataFrame) -> DataFrame:
    """Disambiguate: keep the max-prior candidate per mention
    (deterministic tie-break on entity_id)."""
    w = Window.partitionBy("mention").orderBy(
        F.col("prior").desc(), F.col("entity_id")
    )
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def link_terms(df: DataFrame, mapping: DataFrame, cols) -> DataFrame:
    """Rewrite each of `cols` through the two-column `mapping`
    (term, replacement): one broadcast left join per column, so the
    streamed side keeps its partitioning. Unmatched values pass through
    unchanged — they stay as literals, mirroring the reference keeping
    unparseable values. Each rewritten column moves to the front."""
    term, repl = mapping.columns
    m = F.broadcast(
        mapping.select(F.col(term).alias("_term"), F.col(repl).alias("_repl"))
    )
    for c in cols:
        df = (
            df.join(m.withColumnRenamed("_term", c), c, "left")
            .withColumn(c, F.coalesce("_repl", c))
            .drop("_repl")
        )
    return df


def link_mentions(triples: DataFrame, candidates: DataFrame) -> DataFrame:
    """Rewrite subj/obj surface forms through the candidate dict."""
    d = resolve_dict(candidates).select("mention", "entity_id")
    return link_terms(triples, d, ("subj", "obj")).select(
        "conv_id", "turn_idx", "subj", "pred", "obj"
    )


def link_mentions_salted(triples: DataFrame, candidates: DataFrame) -> DataFrame:
    """Shuffle-join variant with explicit key salting for skew.

    For when the dictionary is too big to broadcast: explode the dict
    side ×SALT_BUCKETS, bucket the fact side by a deterministic hash
    of (conv_id, turn_idx), and join on (mention, salt). Identical
    output to `link_mentions`.
    """
    d = resolve_dict(candidates).select("mention", "entity_id")
    salted_dict = d.select(
        "mention", "entity_id",
        F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))).alias("salt"),
    )
    salt_col = F.pmod(F.hash("conv_id", "turn_idx"), F.lit(SALT_BUCKETS))

    def link_side(df: DataFrame, col: str, out_col: str) -> DataFrame:
        # hint forces a real shuffle join so the salting is exercised
        # (Catalyst would otherwise broadcast a small dict anyway)
        sd = salted_dict.withColumnRenamed("mention", col).hint("shuffle_hash")
        return (
            df.withColumn("salt", salt_col)
            .join(sd, [col, "salt"], "left")
            .withColumn(out_col, F.coalesce("entity_id", col))
            .drop("entity_id", "salt")
        )

    out = link_side(triples, "subj", "subj_id")
    out = link_side(out, "obj", "obj_id")
    return out.select(
        "conv_id", "turn_idx",
        F.col("subj_id").alias("subj"),
        "pred",
        F.col("obj_id").alias("obj"),
    )
