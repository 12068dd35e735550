"""Batched mention detection + triple extraction (SURVEY.md §2.10).

The reference's extractor is RdfBuilder.java (entity JSON → RDF
statements). Ours turns transcript text into (subj, pred, obj) rows
under the FIXTURES.md mention grammar:

    text = ... [[E<s>]] <<P<j1>>> [[E<k1>]] <<P<j2>>> [[E<k2>]] ...
    emits (E<s>, P<ji>, E<ki>) for each relation marker, i.e. the i-th
    ``<<P>>`` pairs with the (i+1)-th ``[[E]]`` mention; the first
    mention is the subject.

One core, `extract_facts`, with two variants of identical output; the
columns named in `meta` ride along with every fact:

- pandas/Arrow — `mapInPandas` over Arrow batches (the north rule's
  mandated shape; no per-row Python at the Spark level — batches
  arrive as Arrow, regex runs through pandas' vectorized str
  accessor).
- builtin — pure JVM columnar plan (`regexp_extract_all` +
  `posexplode`), fully inside whole-stage codegen; the fast path we
  benchmark against.

`extract_triples` / `extract_triples_builtin` are the per-turn fact
tables over them (meta = conv_id, turn_idx); the fused
`construct.construct_ranges` plan carries its turn-window columns as
meta instead, so facts arrive annotated with their revision context.

Per-turn duplicate triples are dropped (A3 analog of the reference's
HashSet dedup, RevisionFileConverter.java:199-210).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

MENTION_RE = r"\[\[(E\d+)\]\]"
PRED_RE = r"<<(P\d+)>>"

TRIPLE = ["subj", "pred", "obj"]
TURN_META = ["conv_id", "turn_idx"]


def _facts_batch(pdf: pd.DataFrame, meta: list[str]) -> pd.DataFrame | None:
    if pdf.empty:
        return None
    pdf = pdf.reset_index(drop=True)
    ments = pdf["text"].str.findall(MENTION_RE)
    preds = pdf["text"].str.findall(PRED_RE)
    # positional pairing: i-th pred joins i-th non-subject mention,
    # via exploded frames index-aligned on (row, position) — no row loop
    pe = preds.explode().dropna().rename("pred").to_frame()
    pe["i"] = pe.groupby(level=0).cumcount()
    oe = ments.str[1:].explode().dropna().rename("obj").to_frame()
    oe["i"] = oe.groupby(level=0).cumcount()
    pairs = pe.reset_index().merge(oe.reset_index(), on=["index", "i"])
    if pairs.empty:
        return None
    out = pairs.merge(
        pdf[meta].assign(subj=ments.str[0]), left_on="index", right_index=True
    )
    out = out[out["subj"].notna()]
    return out[meta + TRIPLE].drop_duplicates()


def _facts_pandas(df: DataFrame, meta: list[str]) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = _facts_batch(pdf, meta)
            if out is not None:
                yield out

    schema = StructType(
        [StructField(c, df.schema[c].dataType) for c in meta]
        + [StructField(c, StringType()) for c in TRIPLE]
    )
    return df.select(*meta, "text").mapInPandas(run, schema=schema)


def _facts_builtin(df: DataFrame, meta: list[str]) -> DataFrame:
    # r7: NO size()-prefilter — predicate pushdown inlined BOTH
    # regexp_extract_all calls into a Filter below this projection,
    # evaluating each regex 2-3x per turn (confirmed in
    # plans/r07/kg_ranges_fast_before.txt op (115)). Empty `preds`
    # explode to zero rows and short `ments` yield NULL objs, so the
    # single obj-NOT-NULL filter above the Generate (which pushdown
    # cannot cross: `i` is generated) keeps the row set identical with
    # ONE evaluation per regex (guide §1.2 per-task work, §4.4 analog
    # for built-ins).
    # The single-element struct explode materializes both arrays as ONE
    # generated attribute, so the filter InferFiltersFromGenerate
    # derives for the posexplode is a cheap field access instead of a
    # third regex evaluation. Generate/Project keep the meta attributes,
    # so a hash partitioning on them survives (no exchange needed).
    ext = df.select(
        *meta,
        F.explode(
            F.array(
                F.struct(
                    F.regexp_extract_all("text", F.lit(MENTION_RE), 1).alias(
                        "ments"
                    ),
                    F.regexp_extract_all("text", F.lit(PRED_RE), 1).alias(
                        "preds"
                    ),
                )
            )
        ).alias("mp"),
    )
    return ext.select(
        *meta,
        F.posexplode("mp.preds").alias("i", "pred"),
        F.col("mp.ments").alias("ments"),
    ).select(
        *meta,
        # try_element_at: NULL (→ filtered) on empty/short mention
        # lists — plain element_at throws under Spark 4 ANSI mode,
        # diverging from the pandas variant
        F.try_element_at("ments", F.lit(1)).alias("subj"),
        "pred",
        F.try_element_at("ments", F.col("i") + 2).alias("obj"),
    ).filter(F.col("obj").isNotNull())


def extract_facts(df: DataFrame, meta: list[str], builtin: bool = False) -> DataFrame:
    """`df` (meta columns + text) → (*meta, subj, pred, obj) rows,
    distinct within an Arrow batch (pandas) or not at all (builtin);
    callers deduplicate on their own keys."""
    return (_facts_builtin if builtin else _facts_pandas)(df, meta)


def _turn_facts(transcripts: DataFrame, builtin: bool) -> DataFrame:
    cols = transcripts.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"), "text"
    )
    return extract_facts(cols, TURN_META, builtin).dropDuplicates(TURN_META + TRIPLE)


def extract_triples(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, subj, pred, obj) via Arrow-batched pandas UDF."""
    return _turn_facts(transcripts, builtin=False)


def extract_triples_builtin(transcripts: DataFrame) -> DataFrame:
    """Same semantics, pure built-in expressions (whole-stage codegen)."""
    return _turn_facts(transcripts, builtin=True)
