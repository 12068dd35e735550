"""SPARQL protocol endpoint (web/SparqlEndpoint.java:154-201 analog).

A stdlib-only WSGI application over a once-loaded materialized store —
the long-lived-repository behavior the reference's Javalin endpoint
gets from `HistoryRepository`, including its triple index
(`views.triple_index`):

- ``GET /sparql?query=...`` and ``POST /sparql`` (form-encoded
  ``query=``, or a raw ``application/sparql-query`` body) evaluate one
  query against the shared store.
- Content negotiation via ``Accept`` (SparqlEndpoint's
  ``setAcceptableMediaTypes``): ``text/tab-separated-values`` (default),
  ``application/sparql-results+json``, ``application/n-triples``
  (graph results only).
- A ``SparqlError`` returns **400** with the parser's message and the
  session keeps serving (the endpoint's per-request error handling);
  anything else propagates as 500 by the WSGI server.
- ``max_rows`` bounds the driver-side collect — the 300 s
  ``SPARQL_TIMEOUT`` analog (SparqlEndpoint.java:47): a protocol
  endpoint returns bounded pages; bulk exports go through
  ``DataFrame.write``.

Serve with any WSGI server (stdlib)::

    from wsgiref.simple_server import make_server
    from wikidata_sparql_history_spark.web import make_app
    make_server("", 8080, make_app(spark, store)).serve_forever()

Scale note: the app holds ONE SparkSession; queries execute on the
cluster, the endpoint only collects the bounded result page. Run many
endpoint processes against the same parquet store for fan-in — the
store is immutable, so no coordination is needed.
"""

from __future__ import annotations

import io
from urllib.parse import parse_qs

from . import cli
from .plans import sparql, views


_FORMATS = {
    "text/tab-separated-values": "tsv",
    "application/sparql-results+json": "json",
    "application/json": "json",
    "application/n-triples": "ntriples",
    "*/*": "tsv",
}


def _negotiate(accept: str) -> str | None:
    """First supported media type wins (q-values ignored — the
    reference's RDF4J negotiation is richer; unsupported → None
    ⇒ 406)."""
    if not accept:
        return "tsv"
    for part in accept.split(","):
        mt = part.split(";")[0].strip().lower()
        if mt in _FORMATS:
            return _FORMATS[mt]
    return None


_CONTENT_TYPES = {
    "tsv": "text/tab-separated-values; charset=utf-8",
    "json": "application/sparql-results+json",
    "ntriples": "application/n-triples; charset=utf-8",
}


class _BadRequest(ValueError):
    pass


def _extract_query(environ) -> str | None:
    if environ.get("REQUEST_METHOD") == "GET":
        qs = parse_qs(environ.get("QUERY_STRING", ""))
        vals = qs.get("query")
        return vals[0] if vals else None
    # POST: raw sparql-query body, or form-encoded query=
    try:
        length = int(environ.get("CONTENT_LENGTH") or 0)
    except ValueError:
        length = 0
    if length < 0:
        # read(-1) would read the socket to EOF and block the worker
        raise _BadRequest("bad Content-Length")
    body = environ["wsgi.input"].read(length).decode("utf-8") if length else ""
    ctype = (environ.get("CONTENT_TYPE") or "").split(";")[0].strip().lower()
    if ctype == "application/sparql-query":
        return body or None
    vals = parse_qs(body).get("query")
    return vals[0] if vals else None


def make_app(spark, store: str, max_rows: int = 1000):
    """→ WSGI app evaluating SPARQL over the materialized `store`.
    The store loads lazily on the first request and is shared by all
    subsequent ones (HistoryRepository lifecycle), as is the store's
    triple index (`views.triple_index`). The app keeps the index's
    checkpoint for its lifetime: losing an executor that holds its
    blocks fails every later request until the process restarts."""
    # lazy init guarded by a lock: under a multi-threaded WSGI server
    # concurrent first requests would otherwise race cli._load (two
    # redundant store loads and indexes). The (ranges, turns, index)
    # tuple is built fully, then published by ONE assignment to
    # `loaded`, so a reader sees either nothing or the whole store.
    import threading

    _init_lock = threading.Lock()
    loaded = None

    def _tables():
        nonlocal loaded
        if loaded is None:
            with _init_lock:
                if loaded is None:
                    ranges, turns = cli._load(spark, store)
                    loaded = (ranges, turns, views.triple_index(ranges))
        return loaded

    def app(environ, start_response):
        if environ.get("PATH_INFO", "/") not in ("/sparql", "/"):
            start_response("404 Not Found",
                           [("Content-Type", "text/plain")])
            return [b"not found: use /sparql\n"]
        if environ.get("REQUEST_METHOD") not in ("GET", "POST"):
            start_response("405 Method Not Allowed",
                           [("Content-Type", "text/plain"),
                            ("Allow", "GET, POST")])
            return [b"use GET or POST\n"]
        fmt = _negotiate(environ.get("HTTP_ACCEPT", ""))
        if fmt is None:
            start_response("406 Not Acceptable",
                           [("Content-Type", "text/plain")])
            return [(", ".join(sorted(set(_FORMATS) - {"*/*"})) + "\n")
                    .encode()]
        try:
            query = _extract_query(environ)
        except _BadRequest as e:
            start_response("400 Bad Request",
                           [("Content-Type", "text/plain")])
            return [f"{e}\n".encode()]
        if not query:
            start_response("400 Bad Request",
                           [("Content-Type", "text/plain")])
            return [b"missing query parameter\n"]
        ranges, turns, index = _tables()
        buf = io.StringIO()
        try:
            df = sparql.evaluate(None, query, ranges=ranges, turns=turns,
                                 index=index)
            cli._emit(df, fmt, max_rows, buf)
        except sparql.SparqlError as e:
            # per-request failure: 400 + message, session keeps serving
            start_response("400 Bad Request",
                           [("Content-Type", "text/plain; charset=utf-8")])
            return [f"error: {e}\n".encode()]
        except SystemExit as e:   # _emit_ntriples on a bindings result
            start_response("400 Bad Request",
                           [("Content-Type", "text/plain; charset=utf-8")])
            return [f"error: {e}\n".encode()]
        payload = buf.getvalue().encode()
        start_response("200 OK",
                       [("Content-Type", _CONTENT_TYPES[fmt]),
                        ("Content-Length", str(len(payload)))])
        return [payload]

    return app
