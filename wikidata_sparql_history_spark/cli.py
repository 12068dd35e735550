"""One-shot SPARQL CLI over a materialized store (Main.java:117-122
analog: `-sparql` evaluates one query against the loaded store and
prints the result; web/SparqlEndpoint.java:154-201 negotiates the
result format — here `--format`).

    python -m wikidata_sparql_history_spark.cli \
        --store /path/to/pipeline/output \
        --query 'SELECT ?s ?o WHERE { GRAPH <rev:global/8> { ?s P0 ?o } }' \
        [--format tsv|json|ntriples] [--max-rows 1000]

The store is a `pipeline.materialize.run_pipeline` output directory;
the default graph is the full `ranges` triple history (GRAPH contexts
slice snapshots from the same table; `turns` enables the magic
predicates). Results print to stdout:

- tsv: header + rows (SPARQL results TSV spirit)
- json: the SPARQL 1.1 results JSON shape
  {"head": {"vars": [...]}, "results": {"bindings": [...]}}
- ntriples: for CONSTRUCT/DESCRIBE graph results (subj/pred/obj rows
  serialized with the shared N-Triples escaping helpers)

`--max-rows` bounds the driver-side collect (the endpoint's 300 s
timeout analog is a row bound here: a CLI prints bounded results;
unbounded exports should `df.write` instead — SparqlEndpoint.java:47).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F


def _load(spark, store: str):
    from .sources import catalog

    ranges = catalog.read_table(spark, os.path.join(store, "ranges"))
    turns = None
    turns_path = os.path.join(store, "turns")
    if os.path.isdir(turns_path):
        turns = catalog.read_table(spark, turns_path)
    return ranges, turns


def run_query(spark, store: str, query: str):
    """→ result DataFrame for `query` over the materialized store."""
    from .plans import sparql

    ranges, turns = _load(spark, store)
    triples = ranges.select("subj", "pred", "obj")
    return sparql.evaluate(triples, query, ranges=ranges, turns=turns)


def _cell(v) -> str:
    """Lexical form of a result cell — SPARQL booleans are lowercase
    (xsd:boolean canonical form), unlike Python's str(True)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _emit_tsv(rows, cols, out):
    out.write("\t".join(cols) + "\n")
    for r in rows:
        out.write(
            "\t".join("" if r[c] is None else _cell(r[c]) for c in cols)
            + "\n"
        )


def _emit_json(rows, cols, out):
    bindings = [
        {
            c: {"type": "literal", "value": _cell(r[c])}
            for c in cols
            if r[c] is not None
        }
        for r in rows
    ]
    json.dump(
        {"head": {"vars": cols}, "results": {"bindings": bindings}},
        out,
    )
    out.write("\n")


# the store's short-form IRI shape — same token shape the SPARQL
# lexer accepts as an IRI word (Q5, P0, rev:c1/3, kg:Entity); pure
# numbers and anything with spaces/quotes/other punctuation is a
# literal, and "lex@lang" serializes as a lang-tagged literal
_IRI_SHAPE_RE = r"^[A-Za-z_][\w.\-]*(:[\w./\-]+)?$"
_NUM_RE = r"^-?\d+(\.\d+)?$"


def _nt_term(col):
    """Term-aware N-Triples serialization of an OBJECT column
    (round-5 advice: CONSTRUCT templates can emit literal objects —
    epoch strings, free text — which must not print as <...> IRIs;
    the reference's RDF writer is type-aware for free via RDF4J)."""
    from .functions import rdf_terms as rt

    is_iri = F.col(col).rlike(_IRI_SHAPE_RE) & ~F.col(col).rlike(_NUM_RE)
    lang_lex = F.regexp_extract(F.col(col), rt.LANG_TAGGED_RE, 1)
    lang_tag = F.regexp_extract(F.col(col), rt.LANG_TAGGED_RE, 2)
    is_lang = (lang_lex != "") & ~is_iri
    return (
        F.when(is_iri, rt.nt_iri(F.col(col)))
        .when(is_lang, rt.nt_literal(lang_lex, lang_tag))
        .otherwise(rt.nt_literal(F.col(col)))
    )


def _emit_ntriples(df, max_rows, out):
    from .functions import rdf_terms as rt

    if set(df.columns) != {"subj", "pred", "obj"}:
        raise SystemExit(
            "--format ntriples needs a graph result (CONSTRUCT/DESCRIBE)"
        )
    lines = (
        df.select(
            F.concat(
                rt.nt_iri(F.col("subj")),
                F.lit(" "),
                rt.nt_iri(F.col("pred")),
                F.lit(" "),
                _nt_term("obj"),
                F.lit(" ."),
            ).alias("line")
        )
        .limit(max_rows)
        .collect()
    )
    for r in lines:
        out.write(r["line"] + "\n")


def _emit(df, fmt, max_rows, out):
    if fmt == "ntriples":
        _emit_ntriples(df, max_rows, out)
    else:
        rows = df.limit(max_rows).collect()
        if fmt == "tsv":
            _emit_tsv(rows, df.columns, out)
        else:
            _emit_json(rows, df.columns, out)


def serve(spark, store: str, fmt: str, max_rows: int, inp, out):
    """Long-lived session (the SparqlEndpoint.java:154-201 analog,
    minus HTTP): the store loads ONCE, then each line of `inp` is one
    SPARQL query evaluated warm — amortizing the store-load cost the
    one-shot path pays per invocation. Results print in `fmt`
    followed by one blank separator line; a query error prints one
    `!error: ...` line instead of killing the session (the endpoint
    returns 400 and keeps serving). EOF or the line `exit` stops.
    Queries read the store's triple index (`views.triple_index`)."""
    from .plans import sparql as sparql_mod
    from .plans import views
    from .session import release_checkpoint

    ranges, turns = _load(spark, store)
    index = views.triple_index(ranges)
    try:
        for line in inp:
            query = line.strip()
            if not query:
                continue
            if query == "exit":
                break
            try:
                df = sparql_mod.evaluate(
                    None, query, ranges=ranges, turns=turns, index=index
                )
                _emit(df, fmt, max_rows, out)
            except (sparql_mod.SparqlError, SystemExit) as e:
                out.write(f"!error: {e}\n")
            out.write("\n")
            out.flush()
    finally:
        release_checkpoint(index)
    return 0


def build(spark, input_path: str, store: str, resume: bool, out,
          candidates: str | None = None, aliases: str | None = None):
    """`--build`: the Main.java `-load` analog — run (or resume) the
    construction pipeline from a transcripts parquet into `store`
    (RocksTripleLoader.java:65-90; resume = the loader's idempotent
    index build). Prints one stage-metrics JSON line.

    `candidates` (mention, entity_id, prior) and `aliases` (src, dst)
    are parquet paths of the linking dictionary and the alias edges.
    A build without one of them does not link through it; without
    both, `ranges` keeps the raw mention terms and no statement table
    is written."""
    from .pipeline.materialize import run_pipeline

    def read(path):
        return None if path is None else spark.read.parquet(path)

    transcripts = spark.read.parquet(input_path)
    res = run_pipeline(
        spark, transcripts, store,
        candidates=read(candidates),
        aliases=read(aliases),
        resume=resume,
        use_builtin_extractor=True,
    )
    json.dump({"stages_run": res.stages_run,
               "stages_skipped": res.stages_skipped,
               "metrics": res.metrics}, out)
    out.write("\n")
    return 0


def main(argv=None, spark=None, out=None, inp=None):
    ap = argparse.ArgumentParser(prog="wikidata_sparql_history_spark.cli")
    ap.add_argument("--store", required=True,
                    help="run_pipeline output directory")
    ap.add_argument("--query", "-q", help="SPARQL text (one-shot mode)")
    ap.add_argument("--serve", action="store_true",
                    help="read queries from stdin, one per line, against "
                         "the once-loaded store (warm-query mode)")
    ap.add_argument("--build", metavar="TRANSCRIPTS_PARQUET",
                    help="build (or --resume) the store from a transcripts "
                         "parquet — the reference's -load mode")
    ap.add_argument("--resume", action="store_true",
                    help="with --build: skip stages whose output exists")
    ap.add_argument("--candidates", metavar="PARQUET",
                    help="with --build: linking dictionary (mention, "
                         "entity_id, prior)")
    ap.add_argument("--aliases", metavar="PARQUET",
                    help="with --build: alias edges (src, dst)")
    ap.add_argument("--format", choices=("tsv", "json", "ntriples"),
                    default="tsv")
    ap.add_argument("--max-rows", type=int, default=1000)
    args = ap.parse_args(argv)
    out = out or sys.stdout
    if sum(map(bool, (args.query, args.serve, args.build))) != 1:
        ap.error("exactly one of --query / --serve / --build is required")

    owned = spark is None
    if owned:
        from .session import get_spark

        spark = get_spark("sparql-cli")
    try:
        if args.build:
            return build(spark, args.build, args.store, args.resume, out,
                         args.candidates, args.aliases)
        if args.serve:
            return serve(spark, args.store, args.format, args.max_rows,
                         inp or sys.stdin, out)
        df = run_query(spark, args.store, args.query)
        _emit(df, args.format, args.max_rows, out)
    finally:
        if owned:
            spark.stop()
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
