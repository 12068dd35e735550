"""Scalar term functions (SURVEY.md §2.7 F2-F6 and F8, §2.2 P8).

Column-expression builders only — every function returns a Spark
Column built from JVM built-ins (whole-stage codegen; no UDFs).
Reference citations per function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- P8: IRI sanitization (RdfBuilder.java:553-566) -----------------------
# the reference %-escapes 10 characters appearing in raw URLs
_IRI_ESCAPES = [
    (" ", "%20"), ('"', "%22"), ("<", "%3C"), (">", "%3E"), ("\\", "%5C"),
    ("`", "%60"), ("{", "%7B"), ("|", "%7C"), ("}", "%7D"), ("^", "%5E"),
]


def sanitize_iri(col) -> Column:
    out = F.col(col) if isinstance(col, str) else col
    for ch, esc in _IRI_ESCAPES:
        out = F.replace(out, F.lit(ch), F.lit(esc))
    return out


# --- F2: N-Triples literal escaping (FileHistoryOutput.java:46-51) --------

def nt_escape(col) -> Column:
    out = F.col(col) if isinstance(col, str) else col
    out = F.replace(out, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    return out


def nt_literal(value_col, lang_col=None) -> Column:
    """Serialize a string (optionally language-tagged) as an N-Triples
    literal: "v"@lang."""
    base = F.concat(F.lit('"'), nt_escape(value_col), F.lit('"'))
    if lang_col is None:
        return base
    lang = F.col(lang_col) if isinstance(lang_col, str) else lang_col
    return F.when(
        lang.isNotNull() & (lang != ""), F.concat(base, F.lit("@"), lang)
    ).otherwise(base)


def nt_iri(col) -> Column:
    return F.concat(F.lit("<"), sanitize_iri(col), F.lit(">"))


# --- F2 reverse: N-Triples parse-back (RocksTripleLoader.java:97-99) -------
# the reference re-ingests its own serialized triples; parse is the
# exact inverse of nt_escape/nt_literal/nt_iri above.

def nt_unescape(col) -> Column:
    """Inverse of nt_escape. The sentinel swap makes the sequential
    replaces correct on inputs like '\\\\n' (escaped backslash followed
    by a literal n), which naive ordering would corrupt."""
    out = F.col(col) if isinstance(col, str) else col
    out = F.replace(out, F.lit("\\\\"), F.lit("\x00"))
    out = F.replace(out, F.lit('\\"'), F.lit('"'))
    out = F.replace(out, F.lit("\\n"), F.lit("\n"))
    out = F.replace(out, F.lit("\\r"), F.lit("\r"))
    out = F.replace(out, F.lit("\\t"), F.lit("\t"))
    out = F.replace(out, F.lit("\x00"), F.lit("\\"))
    return out


def unsanitize_iri(col) -> Column:
    """Inverse of sanitize_iri (the reference's 10 %-escapes)."""
    out = F.col(col) if isinstance(col, str) else col
    for ch, esc in reversed(_IRI_ESCAPES):
        out = F.replace(out, F.lit(esc), F.lit(ch))
    return out


NT_TRIPLE_RE = r"^<([^>]*)> <([^>]*)> (.+?) \.\s*$"
_NT_LITERAL_RE = r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z0-9-]+))?$'
_NT_IRI_RE = r"^<([^>]*)>$"

# the store's string form of a language-tagged literal, "lex@lang"
# (sparql.string_form): LANG_TAGGED_RE's group 1 is the lexical form,
# group 2 the tag; LANG_SUFFIX_RE matches the "@lang" suffix alone
_LANG_TAG = r"[A-Za-z][A-Za-z0-9-]*"
LANG_TAGGED_RE = rf"^(.+)@({_LANG_TAG})$"
LANG_SUFFIX_RE = rf"@{_LANG_TAG}$"


def _null_if_empty(c: Column) -> Column:
    return F.when(c == "", None).otherwise(c)


def parse_nt_line(col) -> Column:
    """Parse one N-Triples line back into
    struct<subj, pred, obj_iri, obj_text, obj_lang> — IRIs
    %-unescaped, literal text unescaped; exactly one of obj_iri /
    obj_text is non-null. Pure regexp_extract + replace (codegen)."""
    line = F.col(col) if isinstance(col, str) else col
    subj = unsanitize_iri(F.regexp_extract(line, NT_TRIPLE_RE, 1))
    pred = unsanitize_iri(F.regexp_extract(line, NT_TRIPLE_RE, 2))
    obj = F.regexp_extract(line, NT_TRIPLE_RE, 3)
    obj_iri = _null_if_empty(
        unsanitize_iri(F.regexp_extract(obj, _NT_IRI_RE, 1))
    )
    is_literal = obj.startswith('"')
    obj_text = F.when(
        is_literal, nt_unescape(F.regexp_extract(obj, _NT_LITERAL_RE, 1))
    )
    obj_lang = F.when(
        is_literal, _null_if_empty(F.regexp_extract(obj, _NT_LITERAL_RE, 2))
    )
    return F.struct(
        _null_if_empty(subj).alias("subj"),
        _null_if_empty(pred).alias("pred"),
        obj_iri.alias("obj_iri"),
        obj_text.alias("obj_text"),
        obj_lang.alias("obj_lang"),
    )


def serialize_nt_line(subj_iri, pred_iri, obj_col, obj_lang=None,
                      obj_is_iri: bool = False) -> Column:
    """Compose a full N-Triples line (F2 forward, whole line)."""
    obj = nt_iri(obj_col) if obj_is_iri else nt_literal(obj_col, obj_lang)
    return F.concat(
        nt_iri(subj_iri), F.lit(" "), nt_iri(pred_iri), F.lit(" "),
        obj, F.lit(" ."),
    )


# --- F3/F4: dateTime formatting / epoch conversion -------------------------
# (RdfBuilder.java:455-476, FileHistoryOutput.java:41)

def xsd_datetime(ts_col) -> Column:
    """ISO-8601 Zulu form the reference emits for in-range years."""
    return F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss'Z'")


def epoch_seconds(ts_col) -> Column:
    return F.unix_timestamp(ts_col)


def from_epoch_seconds(col) -> Column:
    return F.timestamp_seconds(col)


# --- F5: WKT point literal (RdfBuilder.java:387-393) ------------------------

def wkt_point(lon_col, lat_col) -> Column:
    return F.format_string("Point(%s %s)", lon_col, lat_col)


# --- F6: decimal canonicalization (RdfBuilder.java:427-433) ------------------

def canonical_decimal(col) -> Column:
    """Non-negative decimals get an explicit '+' prefix; plain string
    form (no exponent)."""
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("decimal(38,10)").cast("string")
    # strip trailing zeros then trailing dot (toPlainString analog)
    s = F.regexp_replace(s, r"(\.\d*?)0+$", "$1")
    s = F.regexp_replace(s, r"\.$", "")
    return F.when(c >= 0, F.concat(F.lit("+"), s)).otherwise(s)


# --- F8: language-code normalization (RdfBuilder.java:545-551) ---------------

_LANG_MAP = {
    # Wikimedia code → BCP47 (the reference's special cases)
    "als": "gsw", "bat-smg": "sgs", "be-x-old": "be-tarask",
    "crh-cyrl": "crh-Cyrl", "crh-latn": "crh-Latn", "fiu-vro": "vro",
    "roa-rup": "rup", "simple": "en", "zh-classical": "lzh",
    "zh-min-nan": "nan", "zh-yue": "yue",
}


def normalize_lang(col) -> Column:
    """Broadcast-map lookup with identity fallback (UDF-free
    create_map literal — tiny, constant-folded)."""
    c = F.col(col) if isinstance(col, str) else col
    pairs = []
    for k, v in _LANG_MAP.items():
        pairs += [F.lit(k), F.lit(v)]
    m = F.create_map(*pairs)
    return F.coalesce(m[c], c)
