"""One-shot SPARQL CLI (Main.java:117-122 analog): store loading,
query evaluation, and the three result writers."""

from __future__ import annotations

import io
import json
import os

import pytest

from wikidata_sparql_history_spark import cli, synth
from wikidata_sparql_history_spark.pipeline.materialize import run_pipeline


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli_store"))
    run_pipeline(
        spark,
        synth.transcripts(spark, 20, shuffled=False),
        out,
        candidates=synth.candidate_dict(spark),
        aliases=synth.alias_edges(spark),
        use_builtin_extractor=True,
    )
    return out


def test_cli_tsv(spark, store):
    buf = io.StringIO()
    rc = cli.main(
        ["--store", store, "-q",
         "SELECT DISTINCT ?s ?o WHERE { GRAPH <rev:global/8> { ?s P0 ?o } }"],
        spark=spark, out=buf,
    )
    assert rc == 0
    lines = buf.getvalue().strip().splitlines()
    assert lines[0] == "s\to"
    assert len(lines) > 1 and all("\t" in l for l in lines[1:])


def test_cli_json_shape(spark, store):
    buf = io.StringIO()
    cli.main(
        ["--store", store, "-q",
         "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s P0 ?o } GROUP BY ?s",
         "--format", "json"],
        spark=spark, out=buf,
    )
    doc = json.loads(buf.getvalue())
    assert doc["head"]["vars"] == ["s", "n"]
    assert doc["results"]["bindings"], "expected at least one binding"
    b = doc["results"]["bindings"][0]
    assert set(b) == {"s", "n"} and b["s"]["type"] == "literal"


def test_cli_ntriples_for_construct(spark, store):
    buf = io.StringIO()
    cli.main(
        ["--store", store, "-q",
         "CONSTRUCT { ?s linked ?o } WHERE { ?s P0 ?o }",
         "--format", "ntriples", "--max-rows", "5"],
        spark=spark, out=buf,
    )
    lines = buf.getvalue().strip().splitlines()
    assert 0 < len(lines) <= 5
    assert all(l.endswith(" .") and l.count("<") == 3 for l in lines)


def test_cli_ntriples_rejects_bindings(spark, store):
    with pytest.raises(SystemExit):
        cli.main(
            ["--store", store, "-q", "SELECT ?s WHERE { ?s P0 ?o }",
             "--format", "ntriples"],
            spark=spark, out=io.StringIO(),
        )


def test_cli_ntriples_literal_objects(spark, store):
    # round-5 advice: CONSTRUCT can emit literal objects (numbers,
    # free text) — these must serialize as quoted literals, not <...>
    buf = io.StringIO()
    cli.main(
        ["--store", store, "-q",
         'CONSTRUCT { ?s hasCount 42 } WHERE { ?s P0 ?o }',
         "--format", "ntriples", "--max-rows", "3"],
        spark=spark, out=buf,
    )
    lines = buf.getvalue().strip().splitlines()
    assert lines
    for l in lines:
        assert l.endswith('"42" .'), l
        assert l.count("<") == 2, l   # subj + pred IRIs only


def test_cli_serve_two_warm_queries(spark, store):
    # --serve: one loaded store, many queries (SparqlEndpoint analog);
    # an invalid query yields an !error line, not a dead session
    inp = io.StringIO(
        "SELECT DISTINCT ?s WHERE { GRAPH <rev:global/8> { ?s P0 ?o } }\n"
        "SERVICE bogus\n"
        "ASK { ?s P0 ?o }\n"
        "exit\n"
        "SELECT ?never WHERE { ?never P0 ?o }\n"
    )
    buf = io.StringIO()
    rc = cli.main(
        ["--store", store, "--serve"], spark=spark, out=buf, inp=inp,
    )
    assert rc == 0
    text = buf.getvalue()
    blocks = [b for b in text.split("\n\n") if b.strip()]
    assert len(blocks) == 3          # two results + one error; exit stops
    assert blocks[0].splitlines()[0] == "s"
    assert blocks[1].startswith("!error:")
    assert blocks[2].splitlines()[0] == "ask"
    assert "never" not in text


def test_cli_requires_exactly_one_mode(spark, store):
    with pytest.raises(SystemExit):
        cli.main(["--store", store], spark=spark, out=io.StringIO())
    with pytest.raises(SystemExit):
        cli.main(["--store", store, "-q", "ASK { ?s P0 ?o }", "--serve"],
                 spark=spark, out=io.StringIO())


def test_cli_build_and_query_roundtrip(spark, tmp_path):
    # --build (the reference's -load mode) from a transcripts parquet,
    # then --resume skips every stage, then query the built store
    from wikidata_sparql_history_spark import synth

    tpath = str(tmp_path / "transcripts")
    synth.transcripts(spark, 10, shuffled=False).write.parquet(tpath)
    store = str(tmp_path / "store")

    buf = io.StringIO()
    rc = cli.main(["--store", store, "--build", tpath],
                  spark=spark, out=buf)
    assert rc == 0
    doc = json.loads(buf.getvalue())
    assert "ranges" in doc["stages_run"] and not doc["stages_skipped"]

    buf2 = io.StringIO()
    cli.main(["--store", store, "--build", tpath, "--resume"],
             spark=spark, out=buf2)
    doc2 = json.loads(buf2.getvalue())
    assert not doc2["stages_run"] and "ranges" in doc2["stages_skipped"]

    buf3 = io.StringIO()
    cli.main(["--store", store, "-q", "ASK { ?s ?p ?o }"],
             spark=spark, out=buf3)
    assert buf3.getvalue().splitlines()[1] == "true"


def test_cli_build_links_only_against_given_dictionaries(spark, tmp_path):
    # a real transcripts parquet is never linked against the synthetic
    # dictionaries: without --candidates/--aliases the build is
    # unlinked; with both it links and writes the statement tables
    tpath = str(tmp_path / "transcripts")
    synth.transcripts(spark, 10, shuffled=False).write.parquet(tpath)
    cpath, apath = str(tmp_path / "cand"), str(tmp_path / "alias")
    synth.candidate_dict(spark).write.parquet(cpath)
    synth.alias_edges(spark).write.parquet(apath)

    def build(name, *extra):
        store = str(tmp_path / name)
        rc = cli.main(["--store", store, "--build", tpath, *extra],
                      spark=spark, out=io.StringIO())
        assert rc == 0
        terms = {
            t for r in spark.read.parquet(f"{store}/ranges")
            .select("subj", "obj").collect() for t in r
        }
        return os.listdir(store), terms

    tables, terms = build("unlinked")
    assert "statements" not in tables
    assert any(t.startswith("E") for t in terms)
    assert not any(t.startswith("Q") for t in terms)

    tables, terms = build("linked", "--candidates", cpath, "--aliases", apath)
    assert "statements" in tables
    assert any(t.startswith("Q") for t in terms)
