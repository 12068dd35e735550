"""The seeded SPARQL query mix for the `sparql_serve` workload, with a
DuckDB twin for every class whose answer SQL can express.

One cycle sends one query of each class, in a seeded order, with seeded
constants. The store's subjects and objects are the canonical entities
Q0..Q19, its predicates P0..P6 and its revisions 2 + 3t, so every query
below returns well under the endpoint's page and the full answer can be
compared.

SPARQL's default graph is the set of distinct (subj, pred, obj) over
the `ranges` table (table `g` below); GRAPH <rev:global/N> and
<rev:additions/N> slice `ranges` by revision; magic predicates read
`turns`.
"""

from __future__ import annotations

import random

# rows per response page: web.make_app's default max_rows
PAGE_ROWS = 1000

CLASSES = (
    "point", "ask", "snapshot", "additions", "agg", "join", "path",
    "magic", "malformed",
)

# revisions that exist in every conversation (turn_idx = 2 + 3t, t <= 2)
# and in the long ones (t up to 13)
_REVS = [2 + 3 * t for t in range(14)]


def make_query(cls: str, rng: random.Random, convs: list[str]) -> dict:
    """→ {cls, sparql, sql, vars, status} for one query of class `cls`.
    `sql` is None for the class DuckDB does not answer (malformed)."""
    k, m = rng.randrange(20), rng.randrange(20)
    j, j2 = rng.randrange(1, 7), rng.randrange(1, 7)
    rev = rng.choice(_REVS)
    if cls == "point":
        return _q(cls, f"SELECT ?p ?o WHERE {{ Q{k} ?p ?o }}",
                  f"SELECT pred, obj FROM g WHERE subj = 'Q{k}'", ["p", "o"])
    if cls == "ask":
        return _q(cls, f"ASK {{ Q{k} P{j} Q{m} }}",
                  "SELECT count(*) > 0 FROM g WHERE subj = "
                  f"'Q{k}' AND pred = 'P{j}' AND obj = 'Q{m}'", ["ask"])
    if cls == "snapshot":
        return _q(cls,
                  f"SELECT ?s ?o WHERE {{ GRAPH <rev:global/{rev}> "
                  f"{{ ?s P{j} ?o }} }}",
                  "SELECT DISTINCT subj, obj FROM ranges WHERE "
                  f"range_start <= {rev} AND {rev} < range_end "
                  f"AND pred = 'P{j}'", ["s", "o"])
    if cls == "additions":
        return _q(cls,
                  f"SELECT ?s ?o WHERE {{ GRAPH <rev:additions/{rev}> "
                  f"{{ ?s P{j} ?o }} }}",
                  "SELECT DISTINCT subj, obj FROM ranges WHERE "
                  f"range_start = {rev} AND pred = 'P{j}'", ["s", "o"])
    if cls == "agg":
        return _q(cls,
                  f"SELECT ?s (COUNT(*) AS ?n) WHERE {{ ?s P{j} ?o }} "
                  "GROUP BY ?s",
                  f"SELECT subj, count(*) FROM g WHERE pred = 'P{j}' "
                  "GROUP BY subj", ["s", "n"])
    if cls == "join":
        return _q(cls,
                  f"SELECT DISTINCT ?c WHERE {{ Q{k} P{j} ?b . ?b P{j2} ?c }}",
                  "SELECT DISTINCT b.obj FROM g a JOIN g b ON a.obj = b.subj "
                  f"WHERE a.subj = 'Q{k}' AND a.pred = 'P{j}' "
                  f"AND b.pred = 'P{j2}'", ["c"])
    if cls == "path":
        return _q(cls, f"SELECT ?o WHERE {{ Q{k} P{j}+ ?o }}",
                  "WITH RECURSIVE r(o) AS ("
                  f"SELECT obj FROM g WHERE subj = 'Q{k}' AND pred = 'P{j}' "
                  "UNION SELECT g.obj FROM g JOIN r ON g.subj = r.o "
                  f"WHERE g.pred = 'P{j}') SELECT o FROM r", ["o"])
    if cls == "magic":
        conv = rng.choice(convs)
        return _q(cls,
                  f"SELECT ?t ?d WHERE {{ ?t schema:about {conv} . "
                  "?t schema:dateCreated ?d }",
                  "SELECT 'rev:' || conv_id || '/' || CAST(turn_idx AS VARCHAR),"
                  " CAST(epoch_us(ts) AS VARCHAR) FROM turns "
                  f"WHERE conv_id = '{conv}'", ["t", "d"])
    if cls == "malformed":
        return {"cls": cls, "sparql": f"SELECT ?x WHERE {{ ?x P{j} ",
                "sql": None, "vars": None, "status": "400"}
    raise ValueError(f"unknown query class {cls}")


def _q(cls, sparql, sql, vars_):
    return {"cls": cls, "sparql": sparql, "sql": sql, "vars": vars_,
            "status": "200"}


def cycle(rng: random.Random, convs: list[str]) -> list[dict]:
    """One query per class, in a seeded order."""
    order = list(CLASSES)
    rng.shuffle(order)
    return [make_query(c, rng, convs) for c in order]


class Oracle:
    """DuckDB over the same store parquet the endpoint serves."""

    def __init__(self, con, store: str):
        self.con = con
        self.con.execute(
            "CREATE TABLE ranges AS SELECT * FROM "
            f"read_parquet('{store}/ranges/*.parquet')")
        self.con.execute(
            "CREATE TABLE turns AS SELECT * FROM "
            f"read_parquet('{store}/turns/*.parquet')")
        self.con.execute(
            "CREATE TABLE g AS SELECT DISTINCT subj, pred, obj FROM ranges")

    def check(self, q: dict, status: str, body: bytes) -> str | None:
        """→ None when the response is right, else why it is wrong."""
        if not status.startswith(q["status"]):
            return f"{q['cls']}: status {status!r}, want {q['status']}"
        if q["sql"] is None:
            return None
        lines = body.decode("utf-8").split("\n")
        header, rows = lines[0].split("\t"), [l for l in lines[1:] if l]
        if header != q["vars"]:
            return f"{q['cls']}: header {header}, want {q['vars']}"
        want = sorted("\t".join(_cell(v) for v in r)
                      for r in self.con.execute(q["sql"]).fetchall())
        if len(want) >= PAGE_ROWS:
            return f"{q['cls']}: reference has {len(want)} rows, over the page"
        if sorted(rows) != want:
            return (f"{q['cls']}: {len(rows)} rows differ from the "
                    f"{len(want)}-row reference for {q['sparql']!r}")
        return None


def _cell(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)
