"""The workloads: their inputs, set-up, one timed operation each, the
correctness check of that operation, and their per-layer metrics.

- store_build: one `run_pipeline` over the corpus (the job behind
  `cli --build`), checked against the fused `construct_ranges` plan.
- sparql_serve: one request through the `web.make_app` WSGI callable,
  checked against DuckDB over the same store parquet.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
from urllib.parse import urlencode

import duckdb

from wikidata_sparql_history_spark import cli, synth, web
from wikidata_sparql_history_spark.pipeline import construct, materialize
from wikidata_sparql_history_spark.pipeline import ordering
from wikidata_sparql_history_spark.plans import sparql
from wikidata_sparql_history_spark.sources import catalog

import serve_mix
from spans import patched

WARMUP_CYCLES = 6

RANGE_COLS = ["conv_id", "subj", "pred", "obj", "range_start", "range_end"]

# run_pipeline's stage tables → the module that computes each
STAGE_MODULE = {
    "turns": "ordering",
    "mentions": "extract",
    "linked": "linking",
    "ranges": "coalesce",
    "triples": "coalesce",
    "adjacency": "views",
    "dictionary": "encoding",
    "triples_encoded": "encoding",
    "entity_terms": "terms",
    "statements": "reify",
    "statement_qualifiers": "reify",
    "statement_references": "reify",
}
STAGE_FIELDS = ("wall_ms", "task_ms", "shuffle_write_bytes", "spill_bytes",
                "rows_out", "bytes_out")


def dir_bytes(path: str) -> int:
    """Bytes of a table's data files (Spark's .crc side files excluded)."""
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))


def write_corpus(path: str, offset: int, n_conv: int) -> None:
    """The synth corpus for conversations offset..offset+n_conv-1, written
    as one parquet file by synth's DuckDB twin (the same formulas as the
    Spark generator), rows in a hash order as `synth.transcripts` does."""
    sql = synth.transcripts_sql(n_conv)
    full = f"range(0, {n_conv})"
    if sql.count(full) != 1:
        raise RuntimeError("synth.transcripts_sql no longer ranges over "
                           f"{full!r}; cannot shift the conversation ids")
    sql = sql.replace(full, f"range({offset}, {offset + n_conv})")
    os.makedirs(path, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(
            f"COPY (SELECT * FROM ({sql}) "
            "ORDER BY hash(conv_id, turn_idx), conv_id, turn_idx) "
            f"TO '{path}/part-0.parquet' (FORMAT PARQUET)")
    finally:
        con.close()


def drop_one_row(table_dir: str) -> None:
    """Corrupt a written table by deleting its first row (smoke test of
    the correctness checks)."""
    import pyarrow.parquet as pq

    for f in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
        t = pq.read_table(f)
        if t.num_rows:
            pq.write_table(t.slice(1), f)
            return
    raise RuntimeError(f"{table_dir} has no rows to drop")


def _count(con, path: str) -> int:
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]


def _diff_rows(con, got_sql: str, ref_dir: str) -> int:
    """Rows in either direction of the multiset difference between the
    checked relation and the reference ranges."""
    ref = f"SELECT {', '.join(RANGE_COLS)} FROM read_parquet('{ref_dir}/*.parquet')"
    return sum(con.execute(
        f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        for a, b in ((got_sql, ref), (ref, got_sql)))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Base: subclasses define prepare / op / check / discard and the
    per-layer metrics of their traced operations."""

    def __init__(self, spark, tracer, work: str, seed: int, n_conv: int,
                 corrupt: bool):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.n_conv, self.corrupt = seed, n_conv, corrupt
        # the seed shifts the conversation-id range of the corpus
        self.offset = (seed % 1_000_000) * n_conv
        self.con = duckdb.connect()
        self.items_per_op = 0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def generate(self):
        """Write the seeded input corpus (repeated; setup_s takes the median)."""
        shutil.rmtree(self.path("corpus"), ignore_errors=True)
        write_corpus(self.path("corpus"), self.offset, self.n_conv)

    def ops_per_round(self) -> int:
        """Operations that together make one unit of the workload; a run
        measures whole rounds."""
        return 1

    def close(self):
        self.con.close()


class StoreBuild(Workload):
    name = "store_build"

    def prepare(self):
        # no warm-up: the timed build runs in a cold JVM, as `cli --build`
        # and a submitted build job run it
        self.input_rows = _count(self.con, self.path("corpus"))
        self.items_per_op = self.input_rows
        self.input_bytes = dir_bytes(self.path("corpus"))
        self.expected_rows = None

    def _reference(self):
        """Reference ranges by the fused construct_ranges plan
        (oracle-proven) and the expected row counts of the tables
        derivable from them; computed once, after the first build, so
        that build runs in a cold JVM."""
        ref, spark = self.path("ref"), self.spark
        construct.construct_ranges(
            spark, spark.read.parquet(self.path("corpus")),
            synth.candidate_dict(spark), synth.alias_edges(spark),
            use_builtin_extractor=True,
        ).select(*RANGE_COLS).write.mode("overwrite").parquet(ref)
        r = f"read_parquet('{ref}/*.parquet')"
        one = lambda q: self.con.execute(q).fetchone()[0]  # noqa: E731
        self.expected_rows = {
            "turns": self.input_rows,
            "ranges": one(f"SELECT count(*) FROM {r}"),
            "triples": one("SELECT count(*) FROM (SELECT DISTINCT conv_id, "
                           f"subj, pred, obj FROM {r})"),
            "triples_encoded": one(f"SELECT count(*) FROM {r}"),
            "adjacency": one(f"SELECT count(DISTINCT subj) FROM {r}"),
            "dictionary": one(
                f"SELECT count(*) FROM (SELECT subj FROM {r} UNION "
                f"SELECT pred FROM {r} UNION SELECT obj FROM {r})"),
        }

    def op(self, i: int, traced: bool):
        out = self.path(f"store{i}")
        shutil.rmtree(out, ignore_errors=True)
        tr = self.tracer

        # A stage's span runs from the end of the previous stage to the
        # end of its own write: run_pipeline builds each stage's plan just
        # before writing it, and some plans run eager jobs while being
        # built (checkpoints in canonicalize and encoding), so those jobs
        # land in the stage's job group too.
        cur = {}

        def next_stage():
            cur["rec"] = tr.begin("materialize.between_stages")

        def wrap_write(orig):
            def write_table(df, path, *a, **kw):
                table = os.path.basename(path.rstrip("/"))
                rec = cur["rec"]
                if rec is not None:
                    rec["name"] = f"{STAGE_MODULE.get(table, 'materialize')}.{table}"
                    rec["table"] = table
                try:
                    return orig(df, path, *a, **kw)
                finally:
                    tr.end(rec)
                    next_stage()
            return write_table

        def wrap_metrics(orig):
            def _write_metrics(*a, **kw):
                tr.end(cur["rec"])
                try:
                    with tr.span("materialize.write_metrics"):
                        return orig(*a, **kw)
                finally:
                    next_stage()
            return _write_metrics

        spark = self.spark
        transcripts = spark.read.parquet(self.path("corpus"))
        with patched(catalog, "write_table", wrap_write, traced), \
                patched(materialize, "_write_metrics", wrap_metrics, traced), \
                tr.span("materialize.run_pipeline", op=i) as root:
            next_stage()
            try:
                res = materialize.run_pipeline(
                    spark, transcripts, out,
                    candidates=synth.candidate_dict(spark),
                    aliases=synth.alias_edges(spark),
                    resume=False,
                    use_builtin_extractor=True,
                )
            finally:
                tr.end(cur["rec"])
        return {"label": "build", "out": out, "tables": list(res.stages_run),
                "root": root}

    def check(self, res) -> str | None:
        out, con = res["out"], self.con
        if self.expected_rows is None:
            self._reference()
        if self.corrupt:
            drop_one_row(os.path.join(out, "ranges"))
        for need in ("turns", "ranges"):   # what the query front door reads
            if need not in res["tables"]:
                return f"store has no {need} table"
        for table in res["tables"]:
            n = _count(con, os.path.join(out, table))
            want = self.expected_rows.get(table)
            if (want is None and n == 0) or (want is not None and n != want):
                return f"{table}: {n} rows, want {want if want else '> 0'}"
        bad = _diff_rows(
            con, f"SELECT {', '.join(RANGE_COLS)} FROM "
                 f"read_parquet('{out}/ranges/*.parquet')", self.path("ref"))
        if bad:
            return f"ranges: {bad} rows differ from the fused-plan reference"
        res["bytes_out"] = {t: dir_bytes(os.path.join(out, t)) for t in res["tables"]}
        return None

    def discard(self, res):
        shutil.rmtree(res["out"], ignore_errors=True)

    def per_layer(self, traced: list[dict]) -> dict:
        tr, m = self.tracer, {}
        per_stage = {f"{mod}.{t}": [] for t, mod in STAGE_MODULE.items()}
        wm, coverage, ratio = [], [], []
        for res in traced:
            root = res["root"]
            kids = [s for s in tr.spans if s["parent"] == root["id"]
                    and s["name"] != "materialize.between_stages"]
            coverage.append(sum(k["wall_ms"] for k in kids) / root["wall_ms"])
            ratio.append(sum(res["bytes_out"].values()) / self.input_bytes)
            for k in kids:
                if k["name"] == "materialize.write_metrics":
                    wm.append(k)
                elif k["name"] in per_stage:
                    per_stage[k["name"]].append(
                        dict(k, bytes_out=res["bytes_out"].get(k["table"], 0)))
        for name, spans in per_stage.items():
            for f in STAGE_FIELDS:
                m[f"{name}.{f}"] = _median([s[f] for s in spans])
        m["materialize.write_metrics.wall_ms"] = _median([s["wall_ms"] for s in wm])
        m["materialize.write_metrics.task_ms"] = _median([s["task_ms"] for s in wm])
        m["materialize.stage_coverage"] = _median(coverage)
        m["materialize.store_bytes_per_input_byte"] = _median(ratio)
        return m


class SparqlServe(Workload):
    name = "sparql_serve"

    def prepare(self):
        # the two tables the query front door reads (cli._load), written
        # with run_pipeline's sort keys
        spark, store = self.spark, self.path("store")
        transcripts = spark.read.parquet(self.path("corpus"))
        ranges = construct.construct_ranges(
            spark, transcripts, synth.candidate_dict(spark),
            synth.alias_edges(spark), use_builtin_extractor=True)
        catalog.write_table(ranges, os.path.join(store, "ranges"),
                            sort_by=["subj", "pred", "obj"])
        catalog.write_table(ordering.ordered_turns(transcripts),
                            os.path.join(store, "turns"),
                            sort_by=["conv_id", "pos"])
        self.app = web.make_app(spark, store)
        self.oracle = serve_mix.Oracle(self.con, store)
        self.convs = [f"c{self.offset + i}" for i in range(self.n_conv)]
        self.rng = random.Random(self.seed)
        self.items_per_op = 1
        # warm-up cycles with their own constants: latency falls by about
        # a third over the first six as the JVM compiles the query paths,
        # and runs measured on that slope spread twice as wide
        warm = random.Random(~self.seed)
        for _ in range(WARMUP_CYCLES):
            for q in serve_mix.cycle(warm, self.convs):
                self._request(q["sparql"])
        self.queue: list[dict] = []

    def _request(self, text: str):
        env = {
            "REQUEST_METHOD": "GET",
            "PATH_INFO": "/sparql",
            "QUERY_STRING": urlencode({"query": text}),
            "HTTP_ACCEPT": "text/tab-separated-values",
        }
        status = []
        body = b"".join(self.app(env, lambda s, h: status.append(s)))
        return status[0], body

    def ops_per_round(self) -> int:
        return len(serve_mix.CLASSES)

    def op(self, i: int, traced: bool):
        if not self.queue:
            self.queue = serve_mix.cycle(self.rng, self.convs)
        q = self.queue.pop(0)
        tr = self.tracer

        def wrap(name):
            def factory(orig):
                def call(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return call
            return factory

        with patched(sparql, "parse", wrap("sparql.parse"), traced), \
                patched(sparql, "evaluate", wrap("sparql.evaluate"), traced), \
                patched(cli, "_emit", wrap("sparql.execute"), traced), \
                tr.span("sparql.request", cls=q["cls"]) as root:
            status, body = self._request(q["sparql"])
        return {"label": q["cls"], "q": q, "status": status, "body": body,
                "root": root}

    def check(self, res) -> str | None:
        return self.oracle.check(res["q"], res["status"], res["body"])

    def discard(self, res):
        pass

    def per_layer(self, traced: list[dict]) -> dict:
        tr = self.tracer
        parse, compile_, tasks, shuffle, jobs = [], [], [], [], []
        execute = {c: [] for c in serve_mix.CLASSES if c != "malformed"}
        for res in traced:
            root = res["root"]
            tree = _subtree(tr.spans, root)
            parse.append(sum(s["wall_ms"] for s in tree if s["name"] == "sparql.parse"))
            tasks.append(sum(s["task_ms"] for s in tree))
            shuffle.append(sum(s["shuffle_write_bytes"] for s in tree))
            jobs.append(sum(s["jobs"] for s in tree))
            if res["status"].startswith("200"):
                compile_.append(sum(tr.self_ms(s) for s in tree
                                    if s["name"] == "sparql.evaluate"))
                execute[res["q"]["cls"]].append(
                    sum(s["wall_ms"] for s in tree if s["name"] == "sparql.execute"))
        m = {
            "sparql.parse_ms": _median(parse),
            "sparql.compile_ms": _median(compile_),
            "sparql.task_ms": _median(tasks),
            "sparql.shuffle_write_bytes": _median(shuffle),
            "sparql.jobs_per_query": statistics.fmean(jobs) if jobs else 0.0,
        }
        for c, xs in execute.items():
            m[f"sparql.execute_ms.{c}"] = _median(xs)
        return m


def _subtree(spans: list[dict], root: dict) -> list[dict]:
    ids, out = {root["id"]}, [root]
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


WORKLOADS = {w.name: w for w in (StoreBuild, SparqlServe)}
