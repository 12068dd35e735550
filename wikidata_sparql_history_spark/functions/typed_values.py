"""Type-tagged value encoding (SURVEY.md §2.7 F11).

Reference analog: NumericValueFactory.java packs every RDF term into
one int64 — ``id * 12 + typeTag`` (NumericValueFactory.java:1289-1296)
— with small numerics/datetimes inlined directly into the id part and
everything else dictionary-encoded. Datatypes come from a static table
(NumericValueFactory.java:51-93); language-tagged strings carry a
separate lang field (:1062-1128).

The Spark mapping:

- ``compose(id, tag)`` / ``tag_of`` / ``id_of`` — the same ``*12+tag``
  arithmetic as pure JVM column expressions (exact for the full int64
  range: decompose uses pmod + decimal division, no float rounding).
- inline encoders for integers (identity id) and decimals (scaled 1e4
  fixed-point, the reference's "small decimal" trick), each with its
  decode twin, and datetimes (epoch seconds; ``id_of`` reads them
  back).
- non-inlinable terms (strings, IRIs) take a dictionary id from
  plans/encoding.build_dictionary and carry tag STRING/IRI.
- lang-tagged strings are a ``struct<text,lang>`` column
  (`lang_literal`); typed literals a ``struct<lexical,datatype>``
  (`typed_literal`) — Tungsten packs structs, no hand-rolled bytes.

All encode/decode pairs are exact round-trips (oracle-gated by the
``typed_values_roundtrip`` contract query and tests/test_functions.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# type tags (NumericValueFactory.java:32-49 ordering, condensed)
N_TAGS = 12
TAG_IRI = 0
TAG_STRING = 1
TAG_LANG_STRING = 2
TAG_INTEGER = 3
TAG_DECIMAL = 4
TAG_DATETIME = 5
TAG_BOOLEAN = 6

DECIMAL_SCALE = 10_000  # 4 fixed decimal places inline

# ids must satisfy |id| <= (2^63-1 - 11) / 12 for the packing to fit
MAX_INLINE_ID = (2**63 - 1 - (N_TAGS - 1)) // N_TAGS


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _guard_inline(id_col: Column, what: str) -> Column:
    """Enforce the packing bound |id| <= MAX_INLINE_ID loudly and
    uniformly: out-of-range ids would overflow id*12 — throwing under
    ANSI mode but silently corrupting tags with ANSI off. raise_error
    only evaluates on the violating rows. NULL ids pass through as
    NULL (SQL semantics: encode(NULL) = NULL, not an error)."""
    return F.when(
        id_col.isNull() | (F.abs(id_col) <= F.lit(MAX_INLINE_ID)), id_col
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"typed_values: {what} id out of inline range: "),
                id_col.cast("string"),
            )
        ).cast("long")
    )


def compose(id_col, tag: int) -> Column:
    """encoded = id * 12 + tag (tag in [0, 12))."""
    return (_guard_inline(_c(id_col).cast("long"), "compose") * N_TAGS + F.lit(tag)).cast("long")


def tag_of(encoded) -> Column:
    """Extract the type tag: pmod handles negative ids correctly."""
    return F.pmod(_c(encoded), F.lit(N_TAGS)).cast("int")


def id_of(encoded) -> Column:
    """Extract the id part. (encoded - pmod) is an exact multiple of 12;
    dividing as decimal(38,0) keeps it exact over the full long range
    (double division would round above 2^53)."""
    e = _c(encoded)
    exact = (e - F.pmod(e, F.lit(N_TAGS))).cast("decimal(38,0)")
    return (exact / N_TAGS).cast("long")


# --- inline numeric encodings ----------------------------------------------

def encode_integer(v) -> Column:
    return compose(_c(v), TAG_INTEGER)


def decode_integer(encoded) -> Column:
    return id_of(encoded)


def encode_decimal(v) -> Column:
    """Fixed-point inline decimal: 4 decimal places (reference inlines
    decimals with bounded scale the same way). The inline-range check
    runs on the DECIMAL value, before the long cast can overflow."""
    scaled = F.round(_c(v).cast("decimal(38,8)") * DECIMAL_SCALE, 0)
    bounded = F.when(
        scaled.isNull()
        | (F.abs(scaled) <= F.lit(MAX_INLINE_ID).cast("decimal(38,8)")),
        scaled.cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("typed_values: decimal out of inline range: "),
                scaled.cast("string"),
            )
        ).cast("long")
    )
    return compose(bounded, TAG_DECIMAL)


def decode_decimal(encoded) -> Column:
    return (id_of(encoded).cast("decimal(38,4)") / DECIMAL_SCALE).cast(
        "decimal(38,4)"
    )


def encode_datetime(ts) -> Column:
    """Epoch-seconds inline (the reference packs calendar fields,
    NumericValueFactory.java:358-430; epoch is the Spark-native
    equivalent with the same round-trip property)."""
    return compose(F.unix_timestamp(_c(ts)), TAG_DATETIME)


# xsd:dateTime lexicals the inline encoding can represent: years
# 0001..9999, no leap seconds (the reference keeps the string form for
# anything else, NumericValueFactory.java:353-371; SURVEY §1.2 tag 7)
MIN_INLINE_EPOCH = -62_135_596_800  # 0001-01-01T00:00:00Z
MAX_INLINE_EPOCH = 253_402_300_799  # 9999-12-31T23:59:59Z


def encode_datetime_lexical(lex) -> Column:
    """struct<encoded:long, fallback:string> from an xsd:dateTime
    lexical: exactly one field is non-null. Parseable timestamps within
    years 0001..9999 inline as epoch seconds (tag DATETIME); everything
    the inline form can't represent — year > 9999, negative years,
    leap-second :60, junk — keeps its lexical form (the reference's
    string fallback, NumericValueFactory.java:353-371).

    try_to_timestamp is the JVM-side gate: it returns NULL instead of
    throwing on unparseable input, and the explicit epoch bounds catch
    engines that happen to parse extended years."""
    lex = _c(lex)
    ts = F.try_to_timestamp(lex)
    epoch = F.unix_timestamp(ts)
    ok = ts.isNotNull() & epoch.between(
        F.lit(MIN_INLINE_EPOCH), F.lit(MAX_INLINE_EPOCH)
    )
    return F.struct(
        F.when(ok, compose(epoch, TAG_DATETIME)).alias("encoded"),
        F.when(~ok, lex).alias("fallback"),
    )


# --- struct-typed literal columns ------------------------------------------

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def lang_literal(text_col, lang_col) -> Column:
    """struct<text,lang> — the lang-tagged-string representation
    (NumericValueFactory.java:1062-1128)."""
    return F.struct(_c(text_col).alias("text"), _c(lang_col).alias("lang"))


def typed_literal(lexical_col, datatype_col) -> Column:
    """struct<lexical,datatype> for arbitrary typed literals; datatype
    defaults to xsd:string when NULL (reference's datatype table)."""
    return F.struct(
        _c(lexical_col).alias("lexical"),
        F.coalesce(_c(datatype_col), F.lit(XSD_STRING)).alias("datatype"),
    )
