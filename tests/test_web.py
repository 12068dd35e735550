"""WSGI SPARQL endpoint (web/SparqlEndpoint.java:154-201 analog):
protocol surface driven without sockets — plain WSGI environ calls
against one shared app, the way the endpoint actually multiplexes a
long-lived repository."""

from __future__ import annotations

import io
import json

import pytest

from wikidata_sparql_history_spark import web
from tests.test_cli import store  # noqa: F401  (module-scoped fixture)


def call(app, method="GET", path="/sparql", query=None, accept=None,
         body=None, ctype=None, length=None):
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": "",
        "wsgi.input": io.BytesIO(body or b""),
    }
    if body is not None:
        environ["CONTENT_LENGTH"] = length or str(len(body))
        environ["CONTENT_TYPE"] = ctype or ""
    if query is not None:
        from urllib.parse import quote
        environ["QUERY_STRING"] = "query=" + quote(query)
    if accept is not None:
        environ["HTTP_ACCEPT"] = accept
    status_headers = {}

    def start_response(status, headers):
        status_headers["status"] = status
        status_headers["headers"] = dict(headers)

    out = b"".join(app(environ, start_response))
    return status_headers["status"], status_headers["headers"], out


@pytest.fixture(scope="module")
def app(spark, store):  # noqa: F811
    return web.make_app(spark, store, max_rows=100)


def test_get_tsv_default(app):
    status, headers, body = call(
        app, query="SELECT DISTINCT ?s WHERE "
                   "{ GRAPH <rev:global/8> { ?s P0 ?o } }")
    assert status.startswith("200")
    assert headers["Content-Type"].startswith("text/tab-separated-values")
    lines = body.decode().strip().splitlines()
    assert lines[0] == "s" and len(lines) > 1


def test_post_form_and_raw_body(app):
    q = "ASK { Q7 P0 ?o }"
    from urllib.parse import quote
    status, _, body = call(app, method="POST",
                           body=("query=" + quote(q)).encode(),
                           ctype="application/x-www-form-urlencoded")
    assert status.startswith("200") and body.decode().startswith("ask")
    status2, _, body2 = call(app, method="POST", body=q.encode(),
                             ctype="application/sparql-query")
    assert status2.startswith("200") and body2 == body


def test_accept_negotiation_json(app):
    status, headers, body = call(
        app, query="SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s P0 ?o } "
                   "GROUP BY ?s",
        accept="application/sparql-results+json")
    assert status.startswith("200")
    assert headers["Content-Type"] == "application/sparql-results+json"
    doc = json.loads(body)
    assert doc["head"]["vars"] == ["s", "n"]
    assert doc["results"]["bindings"]


def test_accept_ntriples_for_construct(app):
    status, headers, body = call(
        app, query="CONSTRUCT { ?o linkedFrom ?s } WHERE { ?s P0 ?o }",
        accept="application/n-triples")
    assert status.startswith("200")
    lines = body.decode().strip().splitlines()
    assert lines and all(l.endswith(" .") for l in lines)


def test_errors_keep_serving(app):
    # bad query → 400 with the parser's message, then a good one works
    status, _, body = call(app, query="SERVICE bogus")
    assert status.startswith("400") and b"error:" in body
    status2, _, _ = call(app, query="ASK { ?s P0 ?o }")
    assert status2.startswith("200")
    # missing query / wrong path / bad method / unacceptable Accept
    assert call(app)[0].startswith("400")
    assert call(app, path="/nope", query="ASK { ?s P0 ?o }")[0].startswith("404")
    assert call(app, method="PUT", query="x")[0].startswith("405")
    assert call(app, query="ASK { ?s P0 ?o }",
                accept="text/html")[0].startswith("406")


def test_negative_content_length_is_rejected(app):
    # read(-1) would read the socket to EOF and block a real server's
    # worker; the body is a valid form query, so only the length can
    # make this a 400
    from urllib.parse import quote
    body = ("query=" + quote("ASK { Q7 P0 ?o }")).encode()
    status, _, out = call(app, method="POST", body=body, length="-1",
                          ctype="application/x-www-form-urlencoded")
    assert status.startswith("400") and b"bad Content-Length" in out
