"""Statement reification (SURVEY.md §2.10 depth — the RdfBuilder
statement grammar, RdfBuilder.java:232-285).

Per statement the reference emits: a statement NODE (wds: URI,
RdfBuilder.java:232-266) carrying the ps: value and a rank plus a
BestRank marker, pq: qualifier snaks (:258-260), and
prov:wasDerivedFrom pointing at a content-hashed reference node with
pr: snaks (:261-265; snak trichotomy :273-285). The Spark analog over
the FIXTURES mention grammar's reified segments:

    <<P<j>>>[!] [[E<k>]] [((P<qj>:E<qk>|?|!))] [{{S<r>}}]

(the qualifier inner form carries the snak trichotomy: an entity =
ValueSnak, '?' = SomeValueSnak, '!' = NoValueSnak.)

- ``stmt_id``: sha256/16 of (conv_id, turn_idx, subj, pred, obj) — a
  deterministic stand-in for the reference's statement GUID (not
  derivable from text); qualifier and reference rows attach to it.
- ``stmt_rank``: '!' → preferred, else normal. ``best_rank`` mirrors
  BestRankFilter semantics per (conv_id, subj, pred): preferred beats
  normal; when no preferred exists every normal statement is best.
- reference rows: {{S<r>}} → ``ref_id`` = sha256/16 of the source
  snak, the same content-hashing the reference applies to reference
  nodes (RdfBuilder.java:261-265).

Value-side terms (subj / obj / qualifier object) resolve through
`canonicalize.entity_map`, the same link-then-canonicalize map the
triples layer (construct.ranges_plan) uses, so the two layers agree
term-for-term by construction; a store build passes both one map.

Everything is columnar (regexp_extract_all + posexplode + per-element
regexp_extract inside whole-stage codegen). The family's distincts and
the best-rank window are all keyed on conv_id-prefixed keys, so on a
conv_id-clustered input (run_pipeline's persisted occurrences) the
family adds NO shuffle (Spark's subset rule); on an unclustered input
`statement_nodes` adds one hash(conv_id, subj, pred) exchange and
each other table one exchange for its distinct.

The qualifier, reference and value-node distincts run on keys that
carry conv_id, which is then dropped. stmt_id already hashes conv_id,
so this differs from a distinct without conv_id only when two
conversations' statements collide on the 64-bit stmt_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import linking
from .canonicalize import entity_map
from .extract import MENTION_RE

# one reified segment; inner markers are optional so the base grammar's
# plain segments (and the P0 self-typing fact) parse too
SEG_RE = (
    r"(<<P\d+>>!? \[\[E\d+\]\]"
    r"(?: \(\(P\d+:[^)]+\)\))?"
    r"(?: \{\{S\d+\}\})?)"
)

_SEP = "\x1f"

# complex-value markers: V<amt> quantity, T<amt> time, C<amt> globe
# coordinate (RdfBuilder.java:377-425's three value-node kinds)
VALUE_RE = r"^[VTC]\d+$"
TIME_BASE = "2024-01-01"  # T<amt> = TIME_BASE + amt days, day precision


def _amt(col: str):
    return F.expr(f"CAST(substring({col}, 2) AS BIGINT)")


def _time_lexical(amt):
    """'+YYYY-MM-DDT00:00:00Z' — the Wikidata time lexical for
    TIME_BASE + amt days (amt < 1000 keeps years 4-digit)."""
    d = F.date_add(F.lit(TIME_BASE).cast("date"), amt.cast("int"))
    return F.concat(
        F.lit("+"), F.date_format(d, "yyyy-MM-dd"), F.lit("T00:00:00Z")
    )


def _coord_lat(amt):
    return amt % 180 - 90


def _coord_lon(amt):
    return (amt * 7) % 360 - 180


def _coord_point(amt):
    """WKT 'Point(lon lat)' (RdfBuilder's globe-coordinate simple
    form; integer components keep the lexical engine-independent)."""
    return F.concat(
        F.lit("Point("), _coord_lon(amt), F.lit(" "), _coord_lat(amt),
        F.lit(")"),
    )


def reified_segments(transcripts: DataFrame) -> DataFrame:
    """Parse every reified segment of every turn: (conv_id, turn_idx,
    subj, pred, stmt_rank, obj, qual_pred, qual_obj, ref_src) with ''
    for absent optional parts (raw surface forms, pre-linking)."""
    # r7: subj + segs are materialized through ONE single-element
    # explode before the subj-filter. Filtering directly on the subj
    # projection let predicate pushdown inline the regex — and, for
    # generated transcripts, the ENTIRE text-generation expression —
    # into a Filter below the projection, evaluating it twice per turn
    # (plans/r07/kg_statements_reified_before.txt op (127)). A filter
    # on a Generate's output cannot be pushed below the Generate, so
    # everything is evaluated once (guide §1.2 / §4.4 analog).
    pre = transcripts.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.explode(
            F.array(
                F.struct(
                    F.regexp_extract("text", MENTION_RE, 1).alias("subj"),
                    F.regexp_extract_all("text", F.lit(SEG_RE), 1).alias("segs"),
                )
            )
        ).alias("ps"),
    )
    base = pre.select(
        "conv_id",
        "turn_idx",
        F.col("ps.subj").alias("subj"),
        F.posexplode("ps.segs").alias("seg_idx", "seg"),
    ).filter(F.col("subj") != "")
    seg = F.col("seg")
    return base.select(
        "conv_id",
        "turn_idx",
        "subj",
        F.regexp_extract(seg, r"<<(P\d+)>>", 1).alias("pred"),
        F.when(seg.contains(">>!"), F.lit("preferred"))
        .otherwise(F.lit("normal"))
        .alias("stmt_rank"),
        F.regexp_extract(seg, r"\[\[(E\d+)\]\]", 1).alias("obj"),
        F.regexp_extract(seg, r"\(\((P\d+):[^)]+\)\)", 1).alias("qual_pred"),
        F.regexp_extract(seg, r"\(\(P\d+:([^)]+)\)\)", 1).alias("qual_obj"),
        F.regexp_extract(seg, r"\{\{(S\d+)\}\}", 1).alias("ref_src"),
    )


def reify_statements(
    transcripts: DataFrame,
    candidates: DataFrame,
    alias_edges: DataFrame,
) -> DataFrame:
    """The linked statement-occurrence table: one row per parsed
    segment with stmt_id attached; feeds statement_nodes /
    statement_qualifiers / statement_references."""
    return statement_occurrences(
        transcripts, entity_map(candidates, alias_edges)
    )


def statement_occurrences(transcripts: DataFrame, emap: DataFrame) -> DataFrame:
    """`reify_statements` over a built (term, entity) map."""
    # '' (absent optional part) has no mapping and passes through
    segs = linking.link_terms(
        reified_segments(transcripts), emap, ("subj", "obj", "qual_obj")
    )
    return segs.withColumn(
        "stmt_id",
        F.substring(
            F.sha2(
                F.concat_ws(
                    _SEP, "conv_id", "turn_idx", "subj", "pred", "obj"
                ),
                256,
            ),
            1,
            16,
        ),
    )


def statement_nodes(reified: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, stmt_id, subj, pred, obj, stmt_rank,
    best_rank): the statement-node table with BestRankFilter semantics
    (best_rank as 0/1 int for engine-stable hashing).

    The BestRank window runs BEFORE the distinct (duplicate rows do not
    change its max), so the window's clustering on (conv_id, subj,
    pred) also serves the 8-column distinct (subset rule): at most ONE
    exchange, and none when the input is already clustered by conv_id
    (tests/test_reify_golden.py::test_statement_nodes_single_exchange,
    ::test_statement_family_adds_no_exchange_on_clustered_input)."""
    w = Window.partitionBy("conv_id", "subj", "pred")
    is_pref = F.when(F.col("stmt_rank") == "preferred", 1).otherwise(0)
    has_pref = F.max(is_pref).over(w)
    return (
        reified.select(
            "conv_id", "turn_idx", "stmt_id", "subj", "pred", "obj", "stmt_rank"
        )
        .withColumn(
            "best_rank",
            F.when(has_pref == 1, is_pref).otherwise(F.lit(1)).cast("int"),
        )
        .distinct()
    )


def statement_qualifiers(reified: DataFrame) -> DataFrame:
    """(stmt_id, qual_pred, qual_obj, snak_type): pq: snak rows with
    the full snak trichotomy (RdfBuilder.java:258-260, :273-285):

    - ValueSnak  — grammar ``((P:E))`` → linked entity object
    - SomeValueSnak — ``((P:?))`` → deterministic content-hashed bnode
      (the reference hashes the snak into a skolem bnode id)
    - NoValueSnak — ``((P:!))`` → ``wdno:P`` class marker (the
      reference emits ``rdf:type wdno:P``)
    - complex ValueSnak — ``((P:V<amt>))`` / ``((P:T<amt>))`` /
      ``((P:C<amt>))`` → the pq: SIMPLE forms (signed amount lexical /
      '+date'T time lexical / WKT point — RdfBuilder.java:427-433,
      :377-425); the pqv: full value nodes live in
      `statement_value_nodes`
    """
    q = reified.filter(F.col("qual_pred") != "")
    amt = _amt("qual_obj")
    snak_type = (
        F.when(F.col("qual_obj") == "?", F.lit("somevalue"))
        .when(F.col("qual_obj") == "!", F.lit("novalue"))
        .otherwise(F.lit("value"))
    )
    bnode = F.concat(
        F.lit("_:"),
        F.substring(
            F.sha2(F.concat_ws(_SEP, "stmt_id", "qual_pred"), 256), 1, 16
        ),
    )
    obj = (
        F.when(F.col("qual_obj") == "?", bnode)
        .when(F.col("qual_obj") == "!", F.concat(F.lit("wdno:"), "qual_pred"))
        .when(
            F.col("qual_obj").rlike(r"^V\d+$"),
            F.concat(F.lit("+"), F.expr("substring(qual_obj, 2)")),
        )
        .when(F.col("qual_obj").rlike(r"^T\d+$"), _time_lexical(amt))
        .when(F.col("qual_obj").rlike(r"^C\d+$"), _coord_point(amt))
        .otherwise(F.col("qual_obj"))
    )
    return (
        q.select(
            "conv_id",
            "stmt_id",
            "qual_pred",
            obj.alias("qual_obj"),
            snak_type.alias("snak_type"),
        )
        .distinct()
        .drop("conv_id")
    )


def statement_value_nodes(reified: DataFrame) -> DataFrame:
    """(stmt_id, qual_pred, val_id, kind, comp, comp_value): the
    pqv:/wdv: complex-value emission for all three value-node kinds
    (RdfBuilder.java:377-425): every complex-value snak gets a
    CONTENT-HASHED value node plus its component triples in long form —

    - quantity  V<amt> — quantityAmount '+<amt>', quantityUnit '1'
                (unitless like the reference, :427-433)
    - time      T<amt> — timeValue '+YYYY-MM-DDT00:00:00Z',
                timePrecision '11' (day, :377-400)
    - globe     C<amt> — geoLatitude / geoLongitude (:401-425)

    Identical values share one node — the reference's value-node
    dedup-by-hash. Pure projections + a 2-element explode; the only
    possible shuffle is the final distinct, and none on a conv_id-
    clustered input."""
    vals = reified.filter(F.col("qual_obj").rlike(VALUE_RE))
    kc = F.substring("qual_obj", 1, 1)
    amt = _amt("qual_obj")
    amt_str = F.expr("substring(qual_obj, 2)")
    iso = _time_lexical(amt)
    lat = _coord_lat(amt).cast("string")
    lon = _coord_lon(amt).cast("string")

    def _sha16(*cols):
        return F.substring(F.sha2(F.concat_ws(_SEP, *cols), 256), 1, 16)

    kind = (
        F.when(kc == "V", F.lit("quantity"))
        .when(kc == "T", F.lit("time"))
        .otherwise(F.lit("globecoordinate"))
    )
    val_id = F.concat(
        F.lit("wdv:"),
        F.when(kc == "V", _sha16(F.lit("quantity"), amt_str, F.lit("1")))
        .when(kc == "T", _sha16(F.lit("time"), iso, F.lit("11")))
        .otherwise(_sha16(F.lit("globe"), lat, lon)),
    )
    comp1 = (
        F.when(kc == "V", F.lit("quantityAmount"))
        .when(kc == "T", F.lit("timeValue"))
        .otherwise(F.lit("geoLatitude"))
    )
    v1 = (
        F.when(kc == "V", F.concat(F.lit("+"), amt_str))
        .when(kc == "T", iso)
        .otherwise(lat)
    )
    comp2 = (
        F.when(kc == "V", F.lit("quantityUnit"))
        .when(kc == "T", F.lit("timePrecision"))
        .otherwise(F.lit("geoLongitude"))
    )
    v2 = F.when(kc == "V", F.lit("1")).when(kc == "T", F.lit("11")).otherwise(lon)
    return (
        vals.select(
            "conv_id",
            "stmt_id",
            "qual_pred",
            val_id.alias("val_id"),
            kind.alias("kind"),
            F.explode(
                F.array(
                    F.struct(comp1.alias("comp"), v1.alias("comp_value")),
                    F.struct(comp2.alias("comp"), v2.alias("comp_value")),
                )
            ).alias("cv"),
        )
        .select(
            "conv_id", "stmt_id", "qual_pred", "val_id", "kind",
            F.col("cv.comp").alias("comp"),
            F.col("cv.comp_value").alias("comp_value"),
        )
        .distinct()
        .drop("conv_id")
    )


def statement_references(reified: DataFrame) -> DataFrame:
    """(stmt_id, ref_id, ref_src): prov:wasDerivedFrom rows with the
    content-hashed reference node id (RdfBuilder.java:261-265)."""
    return (
        reified.filter(F.col("ref_src") != "")
        .select(
            "conv_id",
            "stmt_id",
            F.substring(
                F.sha2(F.concat_ws(_SEP, F.lit("ref"), "ref_src"), 256), 1, 16
            ).alias("ref_id"),
            "ref_src",
        )
        .distinct()
        .drop("conv_id")
    )
