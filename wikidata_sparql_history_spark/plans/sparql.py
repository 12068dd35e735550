"""SPARQL SELECT front door (SimpleQueryPreparer.java:40-60 analog).

The reference's query surface IS SPARQL text: RDF4J parses the query,
its optimizers rewrite it, and evaluation walks the history store
(sparql/SimpleQueryPreparer.java, HistoryRepository.java:144-154).
This module is the Spark-native analog: a recursive-descent parser to
a small algebra, compiled to a DataFrame plan that Catalyst/AQE
optimizes (replacing the reference's hand-tuned cardinality model,
HistoryEvaluationStatistics.java:41-106).

Grammar (ANSI-ish EBNF, keywords case-insensitive)::

    unit     := (PREFIX name ':' <iri> | BASE <iri>)* query
    query    := SELECT [DISTINCT] proj+ | '*'
                (FROM <rev-graph-iri>)*
                WHERE group
                [GROUP BY ?v+] [HAVING '(' (AGG '(' ?v ')' | ?v) op num ')']*
                [ORDER BY (?v [DESC])+] [LIMIT n] [OFFSET n]
              | ASK [WHERE] group
              | CONSTRUCT ('{' triple+ '}' WHERE group | WHERE group) [LIMIT n]
              | DESCRIBE (constant | ?v WHERE group)
    proj     := ?v | '(' AGG '(' [DISTINCT] (?v | '*')
                [';' SEPARATOR '=' string] ')' AS ?v ')'
    AGG      := COUNT | SUM | MIN | MAX | AVG | SAMPLE | GROUP_CONCAT
    group    := '{' element* '}'
    element  := triple '.'? | FILTER '(' expr ')'
              | FILTER [NOT] EXISTS group
              | OPTIONAL group | MINUS group
              | GRAPH (iri | ?v) group | group (UNION group)+
              | VALUES (?v | '(' ?v+ ')') '{' (row | UNDEF)+ '}'
              | BIND '(' bexpr AS ?v ')' | '{' SELECT-query '}'
    bexpr    := CONCAT '(' operand (',' operand)* ')'
              | operand [('+'|'-'|'*'|'/') operand]
    triple   := term (?v | path) term
    path     := pseq ('|' pseq)*          — alternative
    pseq     := pelt ('/' pelt)*          — sequence
    pelt     := ['^'] pprim ['+'|'*'|'?'] — inverse / closure / optional
    pprim    := iri | '!' '(' iri ('|' iri)* ')' | '(' path ')'
    expr     := eand ('||' eand)*         — boolean disjunction
    eand     := eprim ('&&' eprim)*       — boolean conjunction
    eprim    := '!' eprim | '(' expr ')'
              | ?v [('+'|'-'|'*'|'/') num]
                ('='|'!='|'<'|'>'|'<='|'>=') (term | ?v)
              | ?v [NOT] IN '(' const (',' const)* ')'
              | (STR|LANG) '(' ?v ')' ('='|'!=') const
              | LANGMATCHES '(' LANG '(' ?v ')' ',' string ')'
              | REGEX '(' ?v ',' string ')' | BOUND '(' ?v ')'
              | (CONTAINS|STRSTARTS|STRENDS) '(' ?v ',' string ')'
    term     := ?v | <iri> | prefixed:name | bareword | number
              | '"lex"' ['@lang' | '^^datatype']

Semantics notes (deviations from full SPARQL 1.1 are explicit):

- PREFIX/BASE prologue (SPARQL 1.1 §4.1.1; RDF4J parses these natively
  for the reference — HistoryRepository.java:144-154 — and the web UI
  auto-prepends the registry in src/main/resources/prefixes.json):
  declared prefixed names expand to full IRIs; UNdeclared prefixed
  names keep the current bare-name behavior (they match the store's
  short-form terms verbatim). BASE resolves relative `<...>` IRIs by
  prepending; redefinition follows last-wins, as in SPARQL. The magic
  predicates and rev: graph names are recognized in BOTH short and
  full (schema.org / wikiba.se/history/ontology# /
  wikidata.org/revision/) forms — Vocabulary.java:20-52.
- GRAPH ?g { ... } (variable graph name, bounded form): ?g ranges over
  the addition/deletion event contexts — rev:additions/N for every
  distinct range_start N and rev:deletions/N for every finite
  range_end — the reference's unbound-context UnionIteration
  (RocksTripleSource.java:96-104) over the enumerable contexts. This
  is ONE scan projecting the boundary as a graph column, not a
  driver-side loop; global-state contexts are not enumerated (there is
  one per revision, unbounded — name them explicitly). Patterns inside
  a variable GRAPH must hit the triple store: magic predicates and
  property paths are graph-independent there and are rejected loudly.
- Syntax compatibility: `a` in the predicate position is the
  rdf:type shorthand (SPARQL 1.1 §4.2.4); ORDER BY accepts both the
  postfix `?v DESC` form and the standard `DESC(?v)` / `ASC(?v)`
  function form; a blank-node label `_:b` acts as a variable scoped
  to the query (SPARQL non-distinguished variable) — deviation: it
  is named `_b_<label>` internally and IS projected by SELECT *
  (full SPARQL hides bnode vars from *).
- SELECT is MULTISET (duplicates preserved) unless DISTINCT is given —
  per the round-4 advice; the graph itself is still a set
  (single-graph semantics). With `index=` (`views.triple_index`, one
  row per distinct triple) the set is the index's rows; without it,
  each query DISTINCTs `triples` on the three term columns.
- BGP = chain of joins on shared variables; join order is textual and
  Catalyst/AQE re-orders (the reference's bind-join selection).
- OPTIONAL → left outer join on the shared variables (RDF4J LeftJoin);
  unmatched rows carry NULL for the optional-only variables. A FILTER
  inside the OPTIONAL that references variables of the enclosing
  group compiles into the LeftJoin CONDITION (SPARQL algebra
  LeftJoin(P1, P2, expr)): a left row keeps a right match only when
  the condition holds, else it NULL-extends — not a post-join filter.
  Only the immediately enclosing scope participates; deeper
  references still raise.
- UNION → unionByName with NULL padding for branch-disjoint variables.
- GRAPH <rev:global/N> / <rev:additions/N> / <rev:deletions/N> group:
  patterns inside evaluate against views.state_at / additions_at /
  deletions_at(ranges, N) — the reference's temporal named graphs
  (RocksTripleSource.java:107-139, Vocabulary.java REVISION_*
  namespaces) — or, with `index=`, against the index rows passing
  views.revision_test (∃ start ≤ N < end, ∃ start = N, ∃ end = N).
  Requires `ranges=` or `index=`.
- Magic predicates: a constant predicate in the schema:/hist: registry
  (schema:about, schema:author (alias hist:author), schema:dateCreated,
  schema:isBasedOn, hist:previousRevision, hist:nextRevision,
  hist:revisionId) substitutes the corresponding metadata view as that
  pattern's relation, mirroring the reference's dispatch
  (RocksTripleSource.java:71-88,116-121). Turn nodes are IRIs
  `rev:<conv_id>/<turn_idx>` (REVISION_NAMESPACE analog);
  schema:dateCreated objects are epoch-microsecond strings. Requires
  `turns=`; magic patterns ignore the GRAPH context (metadata is
  graph-independent in the reference too) and need a constant
  predicate — a variable predicate only matches the triple store.
- FILTER: =, !=, <, >, <=, >=, REGEX(?v, "pat"), BOUND(?v) (NULL
  test after OPTIONAL), and the string tests CONTAINS / STRSTARTS /
  STRENDS(?v, "lit") — the SPARQL 1.1 function subset RDF4J hands
  the reference; each compiles to one built-in Column op (contains /
  startswith / endswith / isNotNull). ?v [NOT] IN (c1, c2, ...)
  compiles to one isin (an IN-list Catalyst pushes to the scan;
  constants encode driver-side on the encoded surface). STR(?v) and
  LANG(?v) compare (=/!=) the lexical part / language tag of the
  lex@lang string convention (LANG yields "" for untagged values,
  as SPARQL does for plain literals; rejected on the encoded surface
  where lexical forms do not exist). The comparison's left side may
  carry one arithmetic step (?v * 2 >= 10) — a numeric comparison,
  rejected on the encoded surface where raw arithmetic on id·12+tag
  compositions would be silently wrong. All composable with
  && / || / ! and parentheses (the ConjunctiveConstraintSplitter /
  DisjunctiveConstraintOptimizer surface,
  SimpleQueryPreparer.java:24-27 — here both compile to &/| Columns
  and pushdown is Catalyst's job). The right-hand side may be a
  second VARIABLE (?a != ?b): both sides compare in their native
  column type (string lexicographic, long on the encoded surface).
  Ordered comparisons against a numeric constant (bare number or
  ^^xsd:integer/decimal) compare numerically (cast to double);
  against a string/IRI they compare lexicographically — the
  CompareOptimizer surface (SimpleQueryPreparer.java:24-26).
- Typed literals: "x"@lang and "3"^^xsd:integer parse as structured
  terms. On the default string graph they match their lexical form
  (lang literals as lex@lang). With `encode_const=` every constant is
  converted driver-side BEFORE the join — the ExprValueConverter
  analog (sparql/ExprValueConverter.java:19-44): pass a callable
  Term → encoded value (e.g. dictionary id, or the typed_values
  id*12+tag inline composition for numerics).
- Property paths in the predicate position compile to plans/paths.py
  building blocks (the PropertyPathOptimizer.java:19-91 rewrites):
  ``p+`` → frontier-BFS transitive_closure (with the bound-subject
  seed rewrite when the subject is a constant: the seed is a one-row
  Arrow-built local relation, semi-joined into the first frontier —
  no job, no Python worker, independent of the graph), ``p*``/``p?``
  add the zero-length identity over the graph's subject∪object universe,
  ``^p`` inverse, ``p1/p2`` sequence join, ``p1|p2`` union,
  ``!(p1|p2)`` predicate-exclusion scan. Paths traverse the triple
  store only — magic predicates are not addressable inside a path.
- MINUS → left-anti join on the shared variables (RDF4J
  MinusIteration); with NO shared variables it removes nothing (SPARQL
  MINUS semantics). FILTER EXISTS / NOT EXISTS → left-semi/left-anti
  join, correlated on the shared variables (at least one required).
  VALUES → an inline literal relation (Arrow-built, the same
  constant-relation helper as the path seed) joined in (UNDEF → NULL).
- hist:globalStateAt (RocksTripleSource.java:739-768): the subject
  binds to the first turn at-or-after a constant ISO-dateTime object,
  one per conversation (the W4 as-of lookup).
- BIND supports the expression subset above (CONCAT, one arithmetic
  op, var/constant copy) — numeric operands cast to double. HAVING
  compares an aggregate (or its SELECT alias) against a numeric
  constant, numerically only: there is no string comparison, so a
  GROUP_CONCAT target (direct or through its alias) is rejected
  loudly, equality included. Aggregate HAVING targets compile as
  hidden agg columns.
  ORDER BY may reference non-projected variables (sorted before the
  projection) except under DISTINCT, where order keys must be
  projected.
- Subqueries: a braced inner SELECT is evaluated bottom-up and joins
  the outer group on its PROJECTED variables only (SPARQL 1.1
  subquery scoping); aggregate subqueries compose with outer patterns.
- FROM <rev:global/N | rev:additions/N | rev:deletions/N> (SPARQL
  dataset clause, top-level SELECT only): the DEFAULT graph becomes
  the union of the named snapshots, so bare patterns evaluate against
  them (RDF4J DatasetImpl semantics). Multiple FROM merge; FROM NAMED
  and FROM in subqueries are rejected loudly. Requires `ranges=` or
  `index=`.
- Aggregates additionally include SAMPLE (deterministic: MIN, the
  same convention as the DataFrame surface's ★agg_group_concat) and
  GROUP_CONCAT with an optional `; SEPARATOR="x"` (sorted-DISTINCT
  concat — deterministic and engine-comparable, deviating from
  SPARQL's input-order multiset concat, which is unordered in a
  distributed engine anyway).
- Query forms: SELECT, ASK (one lazy boolean row `ask`), CONSTRUCT
  (template instantiation, DISTINCT per RDF set semantics, default
  graph constants via encode_const too) and DESCRIBE: either
  DESCRIBE <const> (all default-graph triples mentioning the
  resource) or DESCRIBE ?x WHERE { ... } (the RDF4J form the
  reference serves — triples mentioning ANY solution binding of ?x;
  compiled as two semi-joins against the distinct binding set, never
  an OR-condition nested-loop join). LIMIT/OFFSET slice
  the solution sequence (OFFSET deterministic only under ORDER BY).
- Joins on variables that may be unbound (after OPTIONAL/UNION) use
  strict NULL-rejecting equality, not SPARQL compatibility-join;
  aggregates other than COUNT cast to double; no SERVICE federation.
  Each restriction is rejected loudly with the offending token named.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Optional as Opt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import LONG_MAX
from ..functions.rdf_terms import LANG_SUFFIX_RE, LANG_TAGGED_RE
from ..session import local_relation
from . import views


class SparqlError(ValueError):
    pass


# --------------------------------------------------------------------------
# terms + AST
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Iri:
    text: str  # prefixed form or the <...> interior


@dataclass(frozen=True)
class Lit:
    lexical: str
    lang: Opt[str] = None
    datatype: Opt[str] = None


Term = object  # Var | Iri | Lit


# --- property paths (PropertyPathOptimizer.java:19-91 analogs) -----------

@dataclass(frozen=True)
class PathInverse:
    p: object


@dataclass(frozen=True)
class PathSeq:
    parts: tuple


@dataclass(frozen=True)
class PathAlt:
    parts: tuple


@dataclass(frozen=True)
class PathPlus:
    p: object


@dataclass(frozen=True)
class PathStar:
    p: object


@dataclass(frozen=True)
class PathOpt:
    p: object


@dataclass(frozen=True)
class PathNeg:
    preds: tuple  # of Iri


_PATH_NODES = (PathInverse, PathSeq, PathAlt, PathPlus, PathStar,
               PathOpt, PathNeg)

_NUMERIC_DATATYPES = {
    "xsd:integer", "xsd:decimal", "xsd:double", "xsd:long", "xsd:int",
    "http://www.w3.org/2001/XMLSchema#integer",
    "http://www.w3.org/2001/XMLSchema#decimal",
    "http://www.w3.org/2001/XMLSchema#double",
}


def _is_numeric_const(t) -> bool:
    return isinstance(t, Lit) and (
        t.datatype in _NUMERIC_DATATYPES
        or (t.datatype is None and t.lang is None
            and re.fullmatch(r"-?\d+(\.\d+)?", t.lexical) is not None)
    )


def string_form(t) -> str:
    """A constant's matching key on the plain string-term graph."""
    if isinstance(t, Iri):
        return t.text
    if isinstance(t, Lit):
        return f"{t.lexical}@{t.lang}" if t.lang else t.lexical
    raise SparqlError(f"not a constant term: {t!r}")


@dataclass(frozen=True)
class Pattern:
    s: Term
    p: Term
    o: Term


@dataclass(frozen=True)
class FilterExpr:
    var: str
    op: str          # '=', '!=', '<', '>', '<=', '>=', 'regex',
                     # 'bound', 'contains', 'strstarts', 'strends'
    term: Term       # for regex/string fns: Lit carrying the pattern;
                     # may be a Var (variable-variable comparison);
                     # None for 'bound'
    aop: Opt[str] = None     # LHS arithmetic: ?v <aop> aval <op> rhs
    aval: Opt[float] = None  # (numeric comparison, rejected on the
                             # encoded surface)
    fn: Opt[str] = None      # 'str' | 'lang': unary LHS accessor over
                             # the lex@lang string convention


@dataclass(frozen=True)
class FilterAnd:
    parts: tuple     # of FilterExpr | FilterAnd | FilterOr | FilterNot


@dataclass(frozen=True)
class FilterOr:
    parts: tuple


@dataclass(frozen=True)
class FilterNot:
    part: object


@dataclass(frozen=True)
class OptionalBlock:
    group: tuple


@dataclass(frozen=True)
class GraphBlock:
    kind: str        # 'state' | 'additions' | 'deletions' | 'var'
    rev: object      # int revision; the variable NAME for kind='var'
    group: tuple


@dataclass(frozen=True)
class UnionBlock:
    branches: tuple  # of groups


@dataclass(frozen=True)
class MinusBlock:
    group: tuple


@dataclass(frozen=True)
class ExistsExpr:
    group: tuple
    negated: bool


@dataclass(frozen=True)
class ValuesBlock:
    names: tuple   # variable names
    rows: tuple    # of tuples of (Term | None for UNDEF)


@dataclass(frozen=True)
class BindExpr:
    var: str
    expr: object   # Term | Var | ('op', left, right) | ('concat', args)


@dataclass(frozen=True)
class Projection:
    var: str                 # output name (agg alias or the variable)
    agg: Opt[str] = None     # COUNT/SUM/MIN/MAX/AVG/SAMPLE/
                             # GROUP_CONCAT, None for plain var
    arg: Opt[str] = None     # argument variable, '*' for COUNT(*)
    distinct: bool = False
    sep: Opt[str] = None     # GROUP_CONCAT separator (default ' ')


@dataclass
class Query:
    distinct: bool
    select: Opt[list]        # list[Projection] | None for '*'
    group: tuple
    group_by: list = field(default_factory=list)
    order: list = field(default_factory=list)   # [(var, desc)]
    limit: Opt[int] = None
    having: list = field(default_factory=list)  # [(Projection|var, op, num)]
    offset: Opt[int] = None
    from_graphs: list = field(default_factory=list)  # [(kind, rev)]


@dataclass(frozen=True)
class SubqueryBlock:
    query: "Query"


@dataclass(frozen=True)
class AskQuery:
    group: tuple


@dataclass(frozen=True)
class ConstructQuery:
    template: tuple  # of Pattern (constants allowed anywhere)
    group: tuple
    limit: Opt[int] = None


@dataclass(frozen=True)
class DescribeQuery:
    term: object     # constant Iri/Lit to describe, or a Var
    group: tuple = ()  # WHERE group binding the Var (DESCRIBE ?x form)


# --------------------------------------------------------------------------
# prologue (PREFIX / BASE headers) + tokenizer
# --------------------------------------------------------------------------

_HEADER_RE = re.compile(
    r"""\s*(?:
        PREFIX\s+(?P<pfx>[A-Za-z_][\w.-]*)?:\s*<(?P<piri>[^<>\s]*)>
      | BASE\s*<(?P<biri>[^<>\s]*)>
    )""",
    re.IGNORECASE | re.VERBOSE,
)

# an IRI with a scheme is absolute and never BASE-resolved (RFC 3986)
_ABSOLUTE_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def parse_headers(text: str):
    """Strip the SPARQL prologue — leading PREFIX/BASE declarations
    (SPARQL 1.1 §4.1.1; the reference gets this from RDF4J,
    HistoryRepository.java:144-154, plus the auto-prepended registry
    src/main/resources/prefixes.json). Returns (body, prefixes, base);
    redefining a prefix (or BASE) is last-wins, as in SPARQL."""
    prefixes: dict[str, str] = {}
    base, pos = None, 0
    while True:
        m = _HEADER_RE.match(text, pos)
        if not m:
            break
        pos = m.end()
        if m.group("biri") is not None:
            base = m.group("biri")
        else:
            prefixes[m.group("pfx") or ""] = m.group("piri")
    return text[pos:], prefixes, base


_RDF_TYPE_FULL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _expand_prefixed(text: str, prefixes: dict) -> str:
    """Expand `pfx:local` against a DECLARED prefix; undeclared
    prefixed names keep the bare-name behavior (they are the store's
    short-form terms)."""
    if prefixes and ":" in text:
        pfx, local = text.split(":", 1)
        ns = prefixes.get(pfx)
        if ns is not None:
            full = ns + local
            # the store's terms are short-form; canonicalize the one
            # IRI every query can spell two ways, so a declared
            # `rdf:type` and the `a` shorthand (both → "rdf:type")
            # match the same triples (r6 advice item 2)
            return "rdf:type" if full == _RDF_TYPE_FULL else full
    return text


_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | "(?P<str>[^"]*)"
        (?:@(?P<lang>[A-Za-z][A-Za-z0-9-]*)
          |\^\^(?:<(?P<dtiri>[^>]+)>|(?P<dtpfx>[A-Za-z_][\w.-]*:[\w.-]+)))?
    | <(?P<iri>[^<>\s]+)>
    | \?(?P<var>\w+)
    | (?P<num>-?\d+(?:\.\d+)?)
    | (?P<word>[A-Za-z_][\w.-]*(?::[\w./-]+)?)
    | (?P<punct>\{|\}|\(|\)|,|\.|\*|!=|<=|>=|=|<|>|\|\||&&|\||/|\^|\+|!|\?|-|;)
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "SELECT", "DISTINCT", "WHERE", "FILTER", "OPTIONAL", "UNION", "GRAPH",
    "GROUP", "ORDER", "BY", "LIMIT", "AS", "DESC", "ASC", "REGEX",
    "COUNT", "SUM", "MIN", "MAX", "AVG", "MINUS", "HAVING", "BIND",
    "VALUES", "EXISTS", "NOT", "UNDEF", "SERVICE", "OFFSET", "CONCAT",
    "ASK", "CONSTRUCT", "DESCRIBE", "PREFIX", "BASE",
    "BOUND", "CONTAINS", "STRSTARTS", "STRENDS",
    "FROM", "NAMED", "SAMPLE", "GROUP_CONCAT", "SEPARATOR", "IN",
    "STR", "LANG", "LANGMATCHES",
}
_REJECTED_KEYWORDS = {"SERVICE", "OFFSET"}
_AGG_FNS = ("COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE",
            "GROUP_CONCAT")


def _tokenize(text: str, prefixes: dict | None = None, base: str | None = None):
    """Tokenize the query body. `prefixes`/`base` come from the
    prologue: prefixed names and datatypes expand against declared
    prefixes; relative `<...>` IRIs resolve against BASE. Expansion
    happens HERE (token production) so the parser and compiler only
    ever see resolved terms."""
    prefixes = prefixes or {}
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SparqlError(f"lexical error at: {text[pos:pos + 20]!r}")
        pos = m.end()
        if m.group("ws"):
            continue
        if m.group("str") is not None:
            dt = m.group("dtiri") or m.group("dtpfx")
            if m.group("dtpfx") is not None:
                dt = _expand_prefixed(dt, prefixes)
            out.append(("term", Lit(m.group("str"), m.group("lang"), dt)))
        elif m.group("iri") is not None:
            iri = m.group("iri")
            if base is not None and not _ABSOLUTE_IRI_RE.match(iri):
                iri = base + iri
            out.append(
                ("term", Iri("rdf:type" if iri == _RDF_TYPE_FULL else iri))
            )
        elif m.group("var") is not None:
            out.append(("var", Var(m.group("var"))))
        elif m.group("num") is not None:
            out.append(("term", Lit(m.group("num"))))
        elif m.group("word") is not None:
            w = m.group("word")
            while w.endswith("."):   # greedy word regex ate a '.' terminator
                w = w[:-1]
                pos -= 1
            if w.upper() in _KEYWORDS and ":" not in w:
                out.append(("kw", w.upper()))
            elif w.startswith("_:"):
                # blank-node label = non-distinguished variable scoped
                # to the query (same label ⇒ same variable)
                out.append(("var", Var("_b_" + w[2:])))
            else:
                out.append(("term", Iri(_expand_prefixed(w, prefixes))))
        else:
            out.append(("punct", m.group("punct")))
    return out


# --------------------------------------------------------------------------
# parser
# --------------------------------------------------------------------------

_GRAPH_IRI_RE = re.compile(r"^(?:rev:|http://www\.wikidata\.org/revision/)"
                           r"(global|additions|deletions)/(\d+)$")
_GRAPH_KIND = {"global": "state", "additions": "additions",
               "deletions": "deletions"}


class _Parser:
    def __init__(self, text: str):
        body, prefixes, base = parse_headers(text)
        self.toks = _tokenize(body, prefixes, base)
        self.i = 0

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def _next(self):
        t = self._peek()
        self.i += 1
        return t

    def _at_kw(self, *kws) -> bool:
        k, v = self._peek()
        return k == "kw" and v in kws

    def _at_punct(self, p) -> bool:
        k, v = self._peek()
        return k == "punct" and v == p

    def _expect_punct(self, p):
        k, v = self._next()
        if k != "punct" or v != p:
            raise SparqlError(f"expected {p!r}, got {v!r}")

    def _expect_kw(self, kw):
        k, v = self._next()
        if k != "kw" or v != kw:
            raise SparqlError(f"expected {kw}, got {v!r}")

    # ---- query ----------------------------------------------------------

    def parse_query(self, inner: bool = False):
        k, v = self._peek()
        if not inner and k == "kw" and v == "ASK":
            self._next()
            if self._at_kw("WHERE"):
                self._next()
            g = self._parse_group()
            self._expect_end()
            return AskQuery(g)
        if not inner and k == "kw" and v == "CONSTRUCT":
            self._next()
            if self._at_kw("WHERE"):
                # CONSTRUCT WHERE shorthand (SPARQL 1.1 §10.2.2): the
                # template IS the pattern — restricted to plain
                # triples, as in the spec
                self._next()
                g = self._parse_group()
                bad = [el for el in g if not isinstance(el, Pattern)]
                if bad:
                    raise SparqlError(
                        "CONSTRUCT WHERE shorthand allows only plain "
                        f"triple patterns, got {bad[0]!r}")
                pattern_paths = [el for el in g
                                 if isinstance(el.p, _PATH_NODES)]
                if pattern_paths:
                    raise SparqlError(
                        "CONSTRUCT WHERE shorthand allows only plain "
                        "predicates, not property paths")
                tmpl = g
            else:
                tmpl = self._parse_template()
                self._expect_kw("WHERE")
                g = self._parse_group()
            limit = None
            if self._at_kw("LIMIT"):
                self._next()
                lk, lv = self._next()
                if lk != "term" or not lv.lexical.isdigit():
                    raise SparqlError(f"LIMIT needs an integer, got {lv!r}")
                limit = int(lv.lexical)
            self._expect_end()
            return ConstructQuery(tmpl, g, limit)
        if not inner and k == "kw" and v == "DESCRIBE":
            self._next()
            tk, tv = self._next()
            if tk not in ("term", "var"):
                raise SparqlError(
                    f"DESCRIBE needs a constant term or variable, got {tv!r}")
            group: tuple = ()
            if self._at_kw("WHERE"):
                self._next()
                group = self._parse_group()
            self._expect_end()
            if tk == "var" and not group:
                raise SparqlError(
                    f"DESCRIBE ?{tv.name} needs a WHERE clause binding it")
            return DescribeQuery(tv, group)
        self._expect_kw("SELECT")
        distinct = False
        if self._at_kw("DISTINCT"):
            self._next()
            distinct = True
        select = self._parse_projections()
        from_graphs = []
        while self._at_kw("FROM"):
            self._next()
            if inner:
                raise SparqlError(
                    "FROM is only supported in the top-level query")
            if self._at_kw("NAMED"):
                raise SparqlError(
                    "FROM NAMED is unsupported: name the context with a "
                    "GRAPH block instead")
            gk, gv = self._next()
            if gk != "term" or not isinstance(gv, Iri):
                raise SparqlError(f"FROM needs a graph IRI, got {gv!r}")
            m = _GRAPH_IRI_RE.match(gv.text)
            if not m:
                raise SparqlError(
                    f"unknown graph IRI {gv.text!r}: expected "
                    "rev:global/N | rev:additions/N | rev:deletions/N")
            from_graphs.append((_GRAPH_KIND[m.group(1)], int(m.group(2))))
        self._expect_kw("WHERE")
        group = self._parse_group()
        group_by, order, limit, having, offset = [], [], None, [], None
        while True:
            if self._at_kw("GROUP"):
                self._next()
                self._expect_kw("BY")
                while self._peek()[0] == "var":
                    group_by.append(self._next()[1].name)
                if not group_by:
                    raise SparqlError("GROUP BY needs at least one variable")
            elif self._at_kw("HAVING"):
                self._next()
                self._expect_punct("(")
                having.append(self._parse_having())
                self._expect_punct(")")
            elif self._at_kw("ORDER"):
                self._next()
                self._expect_kw("BY")
                while True:
                    if self._peek()[0] == "var":
                        v = self._next()[1].name
                        desc = False
                        if self._at_kw("DESC"):
                            self._next()
                            desc = True
                        elif self._at_kw("ASC"):
                            self._next()
                        order.append((v, desc))
                    elif self._at_kw("DESC", "ASC"):
                        # standard function form: DESC(?v) / ASC(?v)
                        _, d = self._next()
                        self._expect_punct("(")
                        vk, vv = self._next()
                        if vk != "var":
                            raise SparqlError(
                                f"{d}() needs a variable, got {vv!r}")
                        self._expect_punct(")")
                        order.append((vv.name, d == "DESC"))
                    else:
                        break
                if not order:
                    raise SparqlError("ORDER BY needs at least one variable")
            elif self._at_kw("LIMIT"):
                self._next()
                k, v = self._next()
                if k != "term" or not isinstance(v, Lit) or not v.lexical.isdigit():
                    raise SparqlError(f"LIMIT needs an integer, got {v!r}")
                limit = int(v.lexical)
            elif self._at_kw("OFFSET"):
                self._next()
                k, v = self._next()
                if k != "term" or not isinstance(v, Lit) or not v.lexical.isdigit():
                    raise SparqlError(f"OFFSET needs an integer, got {v!r}")
                offset = int(v.lexical)
            elif self._peek()[0] is None or (
                inner and self._at_punct("}")
            ):
                break
            else:
                raise SparqlError(f"trailing tokens at {self._peek()[1]!r}")
        return Query(distinct, select, group, group_by, order, limit,
                     having, offset, from_graphs)

    def _next_is_select(self) -> bool:
        nk, nv = (self.toks[self.i + 1]
                  if self.i + 1 < len(self.toks) else (None, None))
        return nk == "kw" and nv == "SELECT"

    def _expect_end(self):
        if self._peek()[0] is not None:
            raise SparqlError(f"trailing tokens at {self._peek()[1]!r}")

    def _parse_template(self) -> tuple:
        """CONSTRUCT template: plain triples only (no paths/filters)."""
        self._expect_punct("{")
        pats = []
        while not self._at_punct("}"):
            terms = []
            for _ in range(3):
                k, v = self._next()
                if k in ("var", "term"):
                    terms.append(v)
                else:
                    raise SparqlError(f"bad template triple near {v!r}")
            pats.append(Pattern(*terms))
            if self._at_punct("."):
                self._next()
        self._expect_punct("}")
        if not pats:
            raise SparqlError("empty CONSTRUCT template")
        return tuple(pats)

    def _parse_having(self):
        """HAVING '(' (AGG '(' ?v|'*' ')' | ?v) op number ')'."""
        k, v = self._peek()
        if k == "kw" and v in _AGG_FNS:
            self._next()
            self._expect_punct("(")
            agg_distinct = False
            if self._at_kw("DISTINCT"):
                self._next()
                agg_distinct = True
            if self._at_punct("*"):
                self._next()
                arg = "*"
            else:
                ak, av = self._next()
                if ak != "var":
                    raise SparqlError(
                        f"HAVING aggregate needs a variable, got {av!r}")
                arg = av.name
            self._expect_punct(")")
            target = Projection("", v, arg, agg_distinct)
        elif k == "var":
            target = self._next()[1].name
        else:
            raise SparqlError(f"bad HAVING target {v!r}")
        ok_, ov = self._next()
        if ok_ != "punct" or ov not in ("=", "!=", "<", ">", "<=", ">="):
            raise SparqlError(f"unsupported HAVING operator {ov!r}")
        tk, tv = self._next()
        if tk != "term" or not _is_numeric_const(tv):
            raise SparqlError(f"HAVING needs a numeric constant, got {tv!r}")
        return (target, ov, float(tv.lexical))

    def _parse_projections(self):
        if self._at_punct("*"):
            self._next()
            return None
        projs = []
        while True:
            k, v = self._peek()
            if k == "var":
                self._next()
                projs.append(Projection(v.name))
            elif k == "punct" and v == "(":
                self._next()
                kk, fn = self._next()
                if kk != "kw" or fn not in _AGG_FNS:
                    raise SparqlError(f"unknown aggregate {fn!r}")
                self._expect_punct("(")
                agg_distinct = False
                if self._at_kw("DISTINCT"):
                    self._next()
                    agg_distinct = True
                if self._at_punct("*"):
                    self._next()
                    arg = "*"
                    if fn != "COUNT":
                        raise SparqlError(f"{fn}(*) is not valid")
                else:
                    ak, av = self._next()
                    if ak != "var":
                        raise SparqlError(f"aggregate needs a variable, got {av!r}")
                    arg = av.name
                sep = None
                if self._at_punct(";"):
                    self._next()
                    self._expect_kw("SEPARATOR")
                    k2, v2 = self._next()
                    if k2 != "punct" or v2 != "=":
                        raise SparqlError(f"SEPARATOR needs '=', got {v2!r}")
                    sk, sv = self._next()
                    if sk != "term" or not isinstance(sv, Lit):
                        raise SparqlError(
                            f"SEPARATOR needs a string literal, got {sv!r}")
                    if fn != "GROUP_CONCAT":
                        raise SparqlError(
                            f"SEPARATOR is only valid in GROUP_CONCAT, "
                            f"not {fn}")
                    sep = sv.lexical
                self._expect_punct(")")
                self._expect_kw("AS")
                nk, nv = self._next()
                if nk != "var":
                    raise SparqlError(f"AS needs a variable, got {nv!r}")
                self._expect_punct(")")
                projs.append(Projection(nv.name, fn, arg, agg_distinct, sep))
            else:
                break
        if not projs:
            raise SparqlError("empty SELECT clause")
        return projs

    # ---- group ----------------------------------------------------------

    def _parse_group(self) -> tuple:
        self._expect_punct("{")
        elements = []
        while not self._at_punct("}"):
            k, v = self._peek()
            if k == "kw" and v in _REJECTED_KEYWORDS:
                raise SparqlError(
                    f"unsupported SPARQL feature {v}: use the DataFrame/SQL "
                    "surface (plans/paths.py, plans/sql_surface.py) instead")
            if self._at_kw("FILTER"):
                self._next()
                if self._at_kw("EXISTS"):
                    self._next()
                    elements.append(ExistsExpr(self._parse_group(), False))
                elif self._at_kw("NOT"):
                    self._next()
                    self._expect_kw("EXISTS")
                    elements.append(ExistsExpr(self._parse_group(), True))
                else:
                    self._expect_punct("(")
                    elements.append(self._parse_expr())
                    self._expect_punct(")")
            elif self._at_kw("OPTIONAL"):
                self._next()
                elements.append(OptionalBlock(self._parse_group()))
            elif self._at_kw("MINUS"):
                self._next()
                elements.append(MinusBlock(self._parse_group()))
            elif self._at_kw("VALUES"):
                self._next()
                elements.append(self._parse_values())
            elif self._at_kw("BIND"):
                self._next()
                self._expect_punct("(")
                expr = self._parse_bind_expr()
                self._expect_kw("AS")
                vk, vv = self._next()
                if vk != "var":
                    raise SparqlError(f"BIND ... AS needs a variable, got {vv!r}")
                self._expect_punct(")")
                elements.append(BindExpr(vv.name, expr))
            elif self._at_kw("GRAPH"):
                self._next()
                gk, gv = self._next()
                if gk == "var":
                    # bounded variable-graph form: ?g enumerates the
                    # addition/deletion boundary contexts
                    elements.append(GraphBlock("var", gv.name,
                                               self._parse_group()))
                    if self._at_punct("."):
                        self._next()
                    continue
                if gk != "term" or not isinstance(gv, Iri):
                    raise SparqlError(f"GRAPH needs an IRI, got {gv!r}")
                m = _GRAPH_IRI_RE.match(gv.text)
                if not m:
                    raise SparqlError(
                        f"unknown graph IRI {gv.text!r}: expected "
                        "rev:global/N | rev:additions/N | rev:deletions/N")
                elements.append(GraphBlock(_GRAPH_KIND[m.group(1)],
                                           int(m.group(2)),
                                           self._parse_group()))
            elif self._at_punct("{") and self._next_is_select():
                self._next()  # consume '{'
                sub = self.parse_query(inner=True)
                self._expect_punct("}")
                elements.append(SubqueryBlock(sub))
            elif self._at_punct("{"):
                branches = [self._parse_group()]
                while self._at_kw("UNION"):
                    self._next()
                    branches.append(self._parse_group())
                if len(branches) > 1:
                    elements.append(UnionBlock(tuple(branches)))
                else:
                    # plain nested group: SPARQL join semantics
                    elements.extend(branches[0])
            else:
                elements.append(self._parse_triple())
            if self._at_punct("."):
                self._next()
        self._expect_punct("}")
        return tuple(elements)

    def _parse_triple(self) -> Pattern:
        sk, sv = self._next()
        if sk not in ("var", "term"):
            raise SparqlError(f"bad triple pattern near {sv!r}")
        # predicate position: a variable, or a property-path expression
        # (a bare IRI is the trivial one-element path)
        if self._peek()[0] == "var":
            pred = self._next()[1]
        else:
            pred = self._parse_path()
        ok_, ov = self._next()
        if ok_ not in ("var", "term"):
            raise SparqlError(f"bad triple pattern near {ov!r}")
        return Pattern(sv, pred, ov)

    def _parse_values(self) -> ValuesBlock:
        """VALUES ?x { t... } | VALUES (?x ?y) { (t t) ... }; UNDEF
        yields an unbound (NULL) cell."""
        multi = self._at_punct("(")
        names = []
        if multi:
            self._next()
            while self._peek()[0] == "var":
                names.append(self._next()[1].name)
            self._expect_punct(")")
        else:
            k, v = self._next()
            if k != "var":
                raise SparqlError(f"VALUES needs variables, got {v!r}")
            names.append(v.name)
        if not names:
            raise SparqlError("VALUES needs at least one variable")
        self._expect_punct("{")
        rows = []
        while not self._at_punct("}"):
            if multi:
                self._expect_punct("(")
                row = []
                for _ in names:
                    row.append(self._parse_values_cell())
                self._expect_punct(")")
                rows.append(tuple(row))
            else:
                rows.append((self._parse_values_cell(),))
        self._expect_punct("}")
        if not rows:
            raise SparqlError("VALUES needs at least one row")
        return ValuesBlock(tuple(names), tuple(rows))

    def _parse_bind_expr(self):
        """BIND expression subset: CONCAT(args...), or operand
        [(+|-|*|/) operand]; operands are variables or constants."""
        if self._at_kw("CONCAT"):
            self._next()
            self._expect_punct("(")
            args = [self._parse_bind_operand()]
            while self._at_punct(","):
                self._next()
                args.append(self._parse_bind_operand())
            self._expect_punct(")")
            return ("concat", tuple(args))
        left = self._parse_bind_operand()
        k, v = self._peek()
        if k == "punct" and v in ("+", "-", "*", "/"):
            self._next()
            right = self._parse_bind_operand()
            return ("arith", v, left, right)
        return left

    def _parse_bind_operand(self):
        k, v = self._next()
        if k in ("var", "term"):
            return v
        raise SparqlError(f"bad BIND operand {v!r}")

    def _parse_values_cell(self):
        if self._at_kw("UNDEF"):
            self._next()
            return None
        k, v = self._next()
        if k != "term":
            raise SparqlError(f"VALUES cells must be constants, got {v!r}")
        return v

    # ---- property paths (SPARQL 1.1 path grammar subset) ----------------

    def _parse_path(self):
        parts = [self._parse_path_seq()]
        while self._at_punct("|"):
            self._next()
            parts.append(self._parse_path_seq())
        return parts[0] if len(parts) == 1 else PathAlt(tuple(parts))

    def _parse_path_seq(self):
        parts = [self._parse_path_elt()]
        while self._at_punct("/"):
            self._next()
            parts.append(self._parse_path_elt())
        return parts[0] if len(parts) == 1 else PathSeq(tuple(parts))

    def _parse_path_elt(self):
        inverse = False
        if self._at_punct("^"):
            self._next()
            inverse = True
        p = self._parse_path_prim()
        if self._at_punct("+"):
            self._next()
            p = PathPlus(p)
        elif self._at_punct("*"):
            self._next()
            p = PathStar(p)
        elif self._at_punct("?"):
            self._next()
            p = PathOpt(p)
        if inverse:
            p = PathInverse(p)
        return p

    def _parse_path_prim(self):
        if self._at_punct("!"):
            self._next()
            self._expect_punct("(")
            preds = []
            while True:
                k, v = self._next()
                if k != "term" or not isinstance(v, Iri):
                    raise SparqlError(
                        f"negated property set needs IRIs, got {v!r}")
                preds.append(v)
                if self._at_punct("|"):
                    self._next()
                    continue
                break
            self._expect_punct(")")
            return PathNeg(tuple(preds))
        if self._at_punct("("):
            self._next()
            p = self._parse_path()
            self._expect_punct(")")
            return p
        k, v = self._next()
        if k == "term":
            # `a` in the predicate/path position = rdf:type
            # (SPARQL 1.1 §4.2.4)
            if isinstance(v, Iri) and v.text == "a":
                return Iri("rdf:type")
            return v
        raise SparqlError(f"bad path element near {v!r}")

    def _parse_expr(self):
        """Boolean FILTER expression: `||` over `&&` over primaries
        (the ConjunctiveConstraintSplitter /
        DisjunctiveConstraintOptimizer surface,
        SimpleQueryPreparer.java:24-27)."""
        parts = [self._parse_expr_and()]
        while self._at_punct("||"):
            self._next()
            parts.append(self._parse_expr_and())
        return parts[0] if len(parts) == 1 else FilterOr(tuple(parts))

    def _parse_expr_and(self):
        parts = [self._parse_expr_prim()]
        while self._at_punct("&&"):
            self._next()
            parts.append(self._parse_expr_prim())
        return parts[0] if len(parts) == 1 else FilterAnd(tuple(parts))

    def _parse_expr_prim(self):
        if self._at_punct("!"):
            self._next()
            return FilterNot(self._parse_expr_prim())
        if self._at_punct("("):
            self._next()
            e = self._parse_expr()
            self._expect_punct(")")
            return e
        if self._at_kw("LANGMATCHES"):
            # langMatches(LANG(?v), "range") — the standard basic
            # filtering form (SPARQL 1.1 §17.4.3.2, basic ranges only)
            self._next()
            self._expect_punct("(")
            self._expect_kw("LANG")
            self._expect_punct("(")
            vk, vv = self._next()
            if vk != "var":
                raise SparqlError(
                    f"langMatches(LANG(...)) needs a variable, got {vv!r}")
            self._expect_punct(")")
            self._expect_punct(",")
            rk, rv = self._next()
            if rk != "term" or not isinstance(rv, Lit):
                raise SparqlError(
                    f"langMatches needs a string range, got {rv!r}")
            self._expect_punct(")")
            return FilterExpr(vv.name, "langmatches", rv)
        if self._at_kw("STR", "LANG"):
            _, fn = self._next()
            self._expect_punct("(")
            vk, vv = self._next()
            if vk != "var":
                raise SparqlError(f"{fn}() needs a variable, got {vv!r}")
            self._expect_punct(")")
            ok2, ov2 = self._next()
            if ok2 != "punct" or ov2 not in ("=", "!="):
                raise SparqlError(
                    f"{fn}() supports = / != comparisons, got {ov2!r}")
            tk2, tv2 = self._next()
            if tk2 != "term":
                raise SparqlError(
                    f"{fn}() comparison needs a constant, got {tv2!r}")
            return FilterExpr(vv.name, ov2, tv2, fn=fn.lower())
        if self._at_kw("BOUND"):
            self._next()
            self._expect_punct("(")
            vk, vv = self._next()
            if vk != "var":
                raise SparqlError(f"BOUND() needs a variable, got {vv!r}")
            self._expect_punct(")")
            return FilterExpr(vv.name, "bound", None)
        if self._at_kw("REGEX", "CONTAINS", "STRSTARTS", "STRENDS"):
            _, fn = self._next()
            self._expect_punct("(")
            vk, vv = self._next()
            if vk != "var":
                raise SparqlError(f"{fn}() needs a variable, got {vv!r}")
            self._expect_punct(",")
            pk, pv = self._next()
            if pk != "term" or not isinstance(pv, Lit):
                raise SparqlError(f"{fn}() needs a string literal, got {pv!r}")
            self._expect_punct(")")
            return FilterExpr(vv.name, fn.lower(), pv)
        vk, vv = self._next()
        if vk != "var":
            raise SparqlError(f"FILTER needs ?var <op> term, got {vv!r}")
        if self._at_kw("IN", "NOT"):
            k2, v2 = self._next()
            if v2 == "NOT":
                self._expect_kw("IN")
            self._expect_punct("(")
            consts = []
            while True:
                tk, tv = self._next()
                if tk != "term":
                    raise SparqlError(
                        f"IN list needs constant terms, got {tv!r}")
                consts.append(tv)
                if self._at_punct(","):
                    self._next()
                    continue
                break
            self._expect_punct(")")
            if not consts:
                raise SparqlError("IN needs at least one term")
            return FilterExpr(
                vv.name, "in" if v2 == "IN" else "not_in", tuple(consts))
        aop = aval = None
        ak, av = self._peek()
        if ak == "punct" and av in ("+", "-", "*", "/"):
            # LHS arithmetic: ?v <aop> numeric-const <cmp> rhs
            self._next()
            nk, nv = self._next()
            if nk != "term" or not _is_numeric_const(nv):
                raise SparqlError(
                    f"FILTER arithmetic needs a numeric constant, got {nv!r}")
            aop, aval = av, float(nv.lexical)
        ok, ov = self._next()
        if ok != "punct" or ov not in ("=", "!=", "<", ">", "<=", ">="):
            raise SparqlError(f"unsupported FILTER operator {ov!r}")
        tk, tv = self._next()
        if tk == "var":
            return FilterExpr(vv.name, ov, tv, aop, aval)   # ?a <op> ?b
        if tk != "term":
            raise SparqlError(
                f"FILTER term must be a constant or variable, got {tv!r}")
        return FilterExpr(vv.name, ov, tv, aop, aval)


def parse(query: str) -> Query:
    """Parse a SPARQL SELECT into the Query AST (raises SparqlError)."""
    return _Parser(query).parse_query()


# --------------------------------------------------------------------------
# compiler
# --------------------------------------------------------------------------

_MAGIC_PREDICATES = {
    # Vocabulary.java SCHEMA_*/HISTORY_* dispatch registry
    "schema:about", "schema:author", "hist:author", "schema:dateCreated",
    "schema:isBasedOn", "hist:previousRevision", "hist:nextRevision",
    "hist:revisionId",
}

# full-IRI aliases (Vocabulary.java:20-35 — what a PREFIX-expanded
# query produces with the reference's prefixes.json registry)
_SCHEMA_NS = "http://schema.org/"
_HIST_NS = "http://wikiba.se/history/ontology#"
_MAGIC_FULL = {
    _SCHEMA_NS + "about": "schema:about",
    _SCHEMA_NS + "author": "schema:author",
    _SCHEMA_NS + "dateCreated": "schema:dateCreated",
    _SCHEMA_NS + "isBasedOn": "schema:isBasedOn",
    _HIST_NS + "author": "hist:author",
    _HIST_NS + "previousRevision": "hist:previousRevision",
    _HIST_NS + "nextRevision": "hist:nextRevision",
    _HIST_NS + "revisionId": "hist:revisionId",
    _HIST_NS + "globalStateAt": "hist:globalStateAt",
}


def _magic_key(text: str) -> str:
    """Canonical short form of a (possibly PREFIX-expanded) magic
    predicate IRI; non-magic IRIs pass through unchanged."""
    return _MAGIC_FULL.get(text, text)


def _turn_iri(prefix="") -> F.Column:
    return F.concat(F.lit("rev:"), F.col(prefix + "conv_id"), F.lit("/"),
                    F.col(prefix + "turn_idx").cast("string"))


class _Ctx:
    def __init__(self, triples, ranges, turns, encode_const, index):
        self.triples = triples
        self.ranges = ranges
        self.turns = turns
        self.encode_const = encode_const
        self.index = index
        self._sources: dict = {}

    @property
    def spark(self):
        for df in (self.triples, self.ranges, self.turns, self.index):
            if df is not None:
                return df.sparkSession
        raise SparqlError("no DataFrame input to derive a SparkSession from")

    def const(self, term):
        if self.encode_const is not None:
            return self.encode_const(term)
        return string_form(term)

    def local_rows(self, names, rows, typ: str) -> DataFrame:
        """Constant `rows` as a relation with one `typ` column per
        name (`session.local_relation`: a LocalTableScan, no job)."""
        return local_relation(self.spark, names, rows, typ)

    def source(self, graph):
        """(subj, pred, obj) relation for the active graph context;
        for a variable GRAPH, (gctx, subj, pred, obj) with gctx the
        context IRI the variable binds to."""
        key = graph or ("default",)
        if graph is not None and graph[0] == "var":
            key = ("var",)   # var-name-independent; share across blocks
        if key in self._sources:
            return self._sources[key]
        if graph is None and self.index is not None:
            # one row per distinct triple: a set with no distinct
            df = self.index.select("subj", "pred", "obj")
        elif graph is None:
            if self.triples is None:
                raise SparqlError(
                    "pattern outside GRAPH needs a default-graph DataFrame")
            df = self.triples.select("subj", "pred", "obj").distinct()
        elif graph[0] == "var":
            # bounded unbound-context enumeration
            # (RocksTripleSource.java:96-104 UnionIteration): every
            # addition/deletion event names a context, and the events
            # ARE the range boundaries — so the "enumeration" is ONE
            # scan projecting the boundary as the graph column, no
            # driver-side loop and no per-context job
            if self.ranges is None:
                raise SparqlError("GRAPH blocks need ranges= (the coalesced "
                                  "validity-range table)")
            r = self.ranges
            adds = r.select(
                F.concat(F.lit("rev:additions/"),
                         F.col("range_start").cast("string")).alias("gctx"),
                "subj", "pred", "obj")
            dels = r.filter(F.col("range_end") != LONG_MAX).select(
                F.concat(F.lit("rev:deletions/"),
                         F.col("range_end").cast("string")).alias("gctx"),
                "subj", "pred", "obj")
            df = adds.unionByName(dels).distinct()
        elif self.index is not None:
            # the triples with a range passing the context's test: a
            # subset of a set, so again no distinct
            df = self.index.filter(views.revision_test(*graph)).select(
                "subj", "pred", "obj")
        else:
            if self.ranges is None:
                raise SparqlError("GRAPH blocks need ranges= (the coalesced "
                                  "validity-range table)")
            kind, rev = graph
            fn = {"state": views.state_at, "additions": views.additions_at,
                  "deletions": views.deletions_at}[kind]
            df = fn(self.ranges, rev).select("subj", "pred", "obj").distinct()
        self._sources[key] = df
        return df

    def set_default(self, df: DataFrame):
        """Override the default graph (SPARQL FROM dataset clause —
        RDF4J DatasetImpl): bare patterns now read `df`."""
        self._sources[("default",)] = df

    def magic(self, pred: str):
        """(subject, object) relation for a magic predicate
        (RocksTripleSource.java:71-88 registry)."""
        if self.turns is None:
            raise SparqlError(
                f"magic predicate {pred} needs turns= (the ordered turn "
                "metadata table)")
        t = self.turns
        if pred == "schema:about":
            return t.select(_turn_iri().alias("ms"),
                            F.col("conv_id").alias("mo"))
        if pred in ("schema:author", "hist:author"):
            return t.select(_turn_iri().alias("ms"),
                            F.col("role").alias("mo"))
        if pred == "schema:dateCreated":
            return t.select(
                _turn_iri().alias("ms"),
                F.unix_micros(F.col("ts").cast("timestamp"))
                .cast("string").alias("mo"))
        if pred in ("schema:isBasedOn", "hist:previousRevision"):
            return t.filter(F.col("parent_turn_idx").isNotNull()).select(
                _turn_iri().alias("ms"),
                F.concat(F.lit("rev:"), F.col("conv_id"), F.lit("/"),
                         F.col("parent_turn_idx").cast("string")).alias("mo"))
        if pred == "hist:nextRevision":
            return t.filter(F.col("next_turn_idx") != LONG_MAX).select(
                _turn_iri().alias("ms"),
                F.concat(F.lit("rev:"), F.col("conv_id"), F.lit("/"),
                         F.col("next_turn_idx").cast("string")).alias("mo"))
        if pred == "hist:revisionId":
            return t.select(_turn_iri().alias("ms"),
                            F.col("turn_idx").cast("string").alias("mo"))
        raise SparqlError(f"unknown magic predicate {pred}")


def _node_universe(g: DataFrame) -> DataFrame:
    """Subject∪object terms — the zero-length identity domain for
    p* / p? (SPARQL ZeroOrMore/ZeroOrOnePath over the active graph)."""
    return (
        g.select(F.col("subj").alias("node"))
        .unionByName(g.select(F.col("obj").alias("node")))
        .distinct()
    )


def _path_edges(p, g: DataFrame, ctx: _Ctx, seed=None) -> DataFrame:
    """Compile a path expression to a (src, dst) relation over graph
    `g` using plans/paths.py building blocks (the
    PropertyPathOptimizer rewrites). `seed` (one-column src DataFrame)
    applies the bound-subject rewrite to a top-level + or *."""
    from . import paths

    if isinstance(p, Iri):
        return g.filter(F.col("pred") == F.lit(ctx.const(p))).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
    if isinstance(p, PathInverse):
        return paths.inverse_path(_path_edges(p.p, g, ctx))
    if isinstance(p, PathSeq):
        out = _path_edges(p.parts[0], g, ctx)
        for part in p.parts[1:]:
            out = paths.seq_path(out, _path_edges(part, g, ctx))
        return out
    if isinstance(p, PathAlt):
        out = _path_edges(p.parts[0], g, ctx)
        for part in p.parts[1:]:
            out = paths.alt_path(out, _path_edges(part, g, ctx))
        return out
    if isinstance(p, PathPlus):
        return paths.transitive_closure(
            _path_edges(p.p, g, ctx), seeds=seed
        )
    if isinstance(p, PathStar):
        if seed is not None:
            # a bound subject is its own zero-length solution even when
            # absent from the graph (SPARQL ZeroOrMorePath: <s> p* ?o
            # always yields (s, s)), and the identity restricted to the
            # seed is the seed — no scan of g's node universe
            nodes = seed.select(F.col("src").alias("node"))
        else:
            nodes = _node_universe(g)
        return paths.zero_or_more(
            _path_edges(p.p, g, ctx), nodes=nodes, seeds=seed
        )
    if isinstance(p, PathOpt):
        return paths.zero_or_one(
            _path_edges(p.p, g, ctx), nodes=_node_universe(g)
        )
    if isinstance(p, PathNeg):
        return (
            g.filter(
                ~F.col("pred").isin([ctx.const(i) for i in p.preds])
            )
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .distinct()
        )
    raise SparqlError(f"unknown path node {p!r}")  # pragma: no cover


def _datetime_const(t) -> "object":
    """Parse a constant term as a naive datetime (ISO lexical form,
    optionally ^^xsd:dateTime) for the as-of probe."""
    from datetime import datetime

    if isinstance(t, Lit):
        try:
            return datetime.fromisoformat(t.lexical)
        except ValueError:
            pass
    raise SparqlError(
        f"hist:globalStateAt needs an ISO dateTime constant, got {t!r}")


def _compile_pattern(pat: Pattern, ctx: _Ctx, graph):
    """→ (DataFrame with v_<name> columns, bound var set)."""
    var_graph = graph is not None and graph[0] == "var"
    if isinstance(pat.p, Iri) and _magic_key(pat.p.text) == "hist:globalStateAt":
        # as-of dispatch (RocksTripleSource.java:739-768): subject
        # binds to the first turn at-or-after the probe instant, one
        # per conversation (W4 semantics); the object must be the
        # constant date — an unbound probe would enumerate all instants
        if var_graph:
            raise SparqlError(
                "magic predicates inside GRAPH ?var are unsupported: "
                "metadata is graph-independent and would leave the graph "
                "variable unbound")
        if ctx.turns is None:
            raise SparqlError(
                "magic predicate hist:globalStateAt needs turns= (the "
                "ordered turn metadata table)")
        if isinstance(pat.o, Var):
            raise SparqlError(
                "hist:globalStateAt needs a constant date object")
        probe = _datetime_const(pat.o)
        rel = views.global_state_at_ts(
            ctx.turns.withColumn("ts", F.col("ts").cast("timestamp")), probe
        ).select(_turn_iri().alias("ms"))
        positions = [("ms", pat.s)]
    elif isinstance(pat.p, _PATH_NODES):
        if var_graph:
            raise SparqlError(
                "property paths inside GRAPH ?var are unsupported: paths "
                "traverse one graph — name the context explicitly")
        g = ctx.source(graph)
        seed = None
        if not isinstance(pat.s, Var) and isinstance(
            pat.p, (PathPlus, PathStar)
        ):
            # bound-subject rewrite: seed the closure at the constant
            # (the "seed with one step" PropertyPathOptimizer rewrite).
            # The one-row seed is an Arrow-built local relation (no
            # job, no Python worker) and does NOT depend on g, whose
            # emptiness would otherwise lose the zero-length
            # (const, const) solution of p* (SPARQL ZeroOrMorePath
            # yields the bound subject regardless of the graph)
            sval = ctx.const(pat.s)
            styp = "long" if isinstance(sval, int) else "string"
            seed = ctx.local_rows(["src"], [(sval,)], styp)
        rel = _path_edges(pat.p, g, ctx, seed=seed)
        positions = [("src", pat.s), ("dst", pat.o)]
    elif (isinstance(pat.p, Iri)
          and _magic_key(pat.p.text) in _MAGIC_PREDICATES):
        if ctx.encode_const is not None:
            raise SparqlError(
                "magic predicates are not available on the encoded surface")
        if var_graph:
            raise SparqlError(
                "magic predicates inside GRAPH ?var are unsupported: "
                "metadata is graph-independent and would leave the graph "
                "variable unbound")
        rel = ctx.magic(_magic_key(pat.p.text))
        positions = [("ms", pat.s), ("mo", pat.o)]
    else:
        rel = ctx.source(graph)
        positions = [("subj", pat.s), ("pred", pat.p), ("obj", pat.o)]
        if var_graph:
            positions.append(("gctx", Var(graph[1])))

    for col, term in positions:
        if not isinstance(term, Var):
            rel = rel.filter(F.col(col) == F.lit(ctx.const(term)))
    keep: dict[str, str] = {}
    cond = None
    for col, term in positions:
        if isinstance(term, Var):
            if term.name in keep:   # repeated variable (?x p ?x): equality
                c = F.col(keep[term.name]) == F.col(col)
                cond = c if cond is None else (cond & c)
            else:
                keep[term.name] = col
    if cond is not None:
        rel = rel.filter(cond)
    rel = rel.select(*[F.col(c).alias(f"v_{v}") for v, c in keep.items()])
    return rel, set(keep)


def _join(acc, bound, df, vs, how="inner"):
    if acc is None:
        if how != "inner":
            raise SparqlError("OPTIONAL cannot be the first pattern in a group")
        return df, set(vs)
    on = [f"v_{v}" for v in bound & vs]
    if on:
        acc = acc.join(df, on, how)
    elif how == "left":
        acc = acc.join(df, F.lit(True), "left")
    else:
        acc = acc.crossJoin(df)
    return acc, bound | vs


def _filter_vars(fe) -> set:
    """Variable names a filter expression references."""
    if isinstance(fe, (FilterAnd, FilterOr)):
        out: set = set()
        for p in fe.parts:
            out |= _filter_vars(p)
        return out
    if isinstance(fe, FilterNot):
        return _filter_vars(fe.part)
    out = {fe.var}
    if isinstance(fe.term, Var):
        out.add(fe.term.name)
    return out


def _default_name(v: str) -> str:
    return f"v_{v}"


def _filter_col(fe, bound: set, ctx: _Ctx, name=_default_name) -> F.Column:
    """`name` maps a variable to its column — the default is the v_*
    convention; LeftJoin-condition compilation (deferred OPTIONAL
    filters) resolves inner variables to the aliased right side."""
    if isinstance(fe, FilterAnd):
        out = _filter_col(fe.parts[0], bound, ctx, name)
        for p in fe.parts[1:]:
            out = out & _filter_col(p, bound, ctx, name)
        return out
    if isinstance(fe, FilterOr):
        out = _filter_col(fe.parts[0], bound, ctx, name)
        for p in fe.parts[1:]:
            out = out | _filter_col(p, bound, ctx, name)
        return out
    if isinstance(fe, FilterNot):
        return ~_filter_col(fe.part, bound, ctx, name)
    if fe.var not in bound:
        raise SparqlError(f"FILTER references unbound variable ?{fe.var}")
    col = F.col(name(fe.var))
    if fe.op == "bound":
        # NULL test — meaningful after OPTIONAL/UNION padding
        return col.isNotNull()
    if fe.op == "regex":
        return col.rlike(fe.term.lexical)
    if fe.op == "langmatches":
        # basic language ranges (RFC 4647 §2.1 basic filtering):
        # case-insensitive exact tag or prefix-before-'-'; "*" matches
        # any tagged value. Rejected on the encoded surface.
        if ctx.encode_const is not None:
            raise SparqlError(
                "langMatches() is unsupported on the encoded surface")
        tag = F.lower(F.regexp_extract(col, LANG_TAGGED_RE, 2))
        rng = fe.term.lexical.lower()
        if rng == "*":
            return tag != ""
        return (tag == rng) | tag.startswith(rng + "-")
    if fe.fn in ("str", "lang"):
        # unary accessors over the lex@lang string convention
        # (string_form): LANG = the tag or '' (SPARQL returns "" for
        # plain literals), STR = the lexical part. Lexical forms do
        # not exist on the encoded surface — reject loudly there
        if ctx.encode_const is not None:
            raise SparqlError(
                f"{fe.fn.upper()}() is unsupported on the encoded surface")
        if fe.fn == "lang":
            col = F.regexp_extract(col, LANG_TAGGED_RE, 2)
        else:
            col = F.regexp_replace(col, LANG_SUFFIX_RE, "")
        rhs = F.lit(string_form(fe.term))
        return col == rhs if fe.op == "=" else col != rhs
    if fe.op in ("in", "not_in"):
        # membership against a constant list (RDF4J In/CompareAll):
        # one isin — an IN-list Catalyst pushes to the scan; constants
        # go through the encoder on the encoded surface
        vals = [ctx.const(t) for t in fe.term]
        return col.isin(vals) if fe.op == "in" else ~col.isin(vals)
    if fe.op in ("contains", "strstarts", "strends"):
        return {"contains": col.contains(fe.term.lexical),
                "strstarts": col.startswith(fe.term.lexical),
                "strends": col.endswith(fe.term.lexical)}[fe.op]
    if fe.aop is not None:
        # LHS arithmetic forces a NUMERIC comparison; encoded-surface
        # values are id·12+tag compositions on which raw arithmetic
        # would be silently wrong — reject loudly there
        if ctx.encode_const is not None:
            raise SparqlError(
                "arithmetic FILTER is unsupported on the encoded surface")
        col = col.cast("double")
        col = {"+": col + fe.aval, "-": col - fe.aval,
               "*": col * fe.aval, "/": col / fe.aval}[fe.aop]
        if isinstance(fe.term, Var):
            if fe.term.name not in bound:
                raise SparqlError(
                    f"FILTER references unbound variable ?{fe.term.name}")
            rhs = F.col(name(fe.term.name)).cast("double")
        elif _is_numeric_const(fe.term):
            rhs = F.lit(float(fe.term.lexical))
        else:
            raise SparqlError(
                "arithmetic FILTER needs a numeric or variable "
                f"right-hand side, got {fe.term!r}")
        return {"=": col == rhs, "!=": col != rhs, "<": col < rhs,
                ">": col > rhs, "<=": col <= rhs, ">=": col >= rhs}[fe.op]
    if isinstance(fe.term, Var):
        # variable-variable comparison: both sides in their native
        # column type (string lexicographic / long on the encoded
        # surface) — no cast, so pushdown-friendly either way
        if fe.term.name not in bound:
            raise SparqlError(
                f"FILTER references unbound variable ?{fe.term.name}")
        rhs = F.col(name(fe.term.name))
    elif ctx.encode_const is not None:
        rhs = F.lit(ctx.const(fe.term))
    elif fe.op in ("<", ">", "<=", ">=") and _is_numeric_const(fe.term):
        col = col.cast("double")
        rhs = F.lit(float(fe.term.lexical))
    else:
        rhs = F.lit(string_form(fe.term))
    return {"=": col == rhs, "!=": col != rhs, "<": col < rhs,
            ">": col > rhs, "<=": col <= rhs, ">=": col >= rhs}[fe.op]


def _bind_col(expr, bound: set, ctx: _Ctx) -> F.Column:
    """Compile the BIND expression subset to a Column."""
    def operand(t, numeric=False):
        if isinstance(t, Var):
            if t.name not in bound:
                raise SparqlError(f"BIND references unbound variable ?{t.name}")
            c = F.col(f"v_{t.name}")
            return c.cast("double") if numeric else c
        if _is_numeric_const(t):
            return F.lit(float(t.lexical)) if numeric else F.lit(t.lexical)
        return F.lit(string_form(t))

    if isinstance(expr, tuple) and expr[0] == "concat":
        return F.concat(*[operand(a).cast("string") for a in expr[1]])
    if isinstance(expr, tuple) and expr[0] == "arith":
        _, op, l, r = expr
        lc, rc = operand(l, numeric=True), operand(r, numeric=True)
        return {"+": lc + rc, "-": lc - rc, "*": lc * rc, "/": lc / rc}[op]
    return operand(expr)


def _compile_group(group: tuple, ctx: _Ctx, graph=None):
    acc, bound, _ = _compile_group_ex(group, ctx, graph, frozenset())
    return acc, bound


def _left_join_conditional(acc, bound, df, vs, deferred, ctx):
    """OPTIONAL whose filters reference OUTER variables: the RDF4J
    LeftJoin with a join CONDITION (SPARQL algebra LeftJoin(P1, P2,
    expr)) — a left row keeps a right match only when the shared vars
    agree AND the condition holds; otherwise it NULL-extends. The
    right side is aliased (_r_*) so the condition can address both
    sides; shared variables keep the LEFT copy (equal on match,
    preserved on NULL-extension)."""
    if acc is None:
        raise SparqlError("OPTIONAL cannot be the first pattern in a group")
    shared = sorted(bound & vs)
    right = df.select(
        *[F.col(f"v_{v}").alias(f"_r_{v}") for v in sorted(vs)]
    )
    cond = None
    for v in shared:
        c = F.col(f"v_{v}") == F.col(f"_r_{v}")
        cond = c if cond is None else (cond & c)

    def name(v: str) -> str:
        return f"_r_{v}" if v in vs else f"v_{v}"

    for fe in deferred:
        c = _filter_col(fe, bound | vs, ctx, name)
        cond = c if cond is None else (cond & c)
    joined = acc.join(right, cond if cond is not None else F.lit(True),
                      "left")
    keep = [F.col(c) for c in acc.columns]
    keep += [F.col(f"_r_{v}").alias(f"v_{v}") for v in sorted(vs - bound)]
    return joined.select(*keep), bound | vs


def _compile_group_ex(group: tuple, ctx: _Ctx, graph, outer_bound):
    """Compile a group; filters that reference variables bound only in
    `outer_bound` (possible only inside OPTIONAL) are returned as the
    third element for the caller to fold into the LeftJoin condition."""
    acc, bound = None, set()
    filters: list[FilterExpr] = []
    for el in group:
        if isinstance(el, (FilterExpr, FilterAnd, FilterOr, FilterNot,
                           ExistsExpr)):
            filters.append(el)           # filters scope to the whole group
        elif isinstance(el, Pattern):
            df, vs = _compile_pattern(el, ctx, graph)
            acc, bound = _join(acc, bound, df, vs)
        elif isinstance(el, OptionalBlock):
            # only the IMMEDIATE outer scope participates in the
            # LeftJoin condition — deeper references still raise
            df, vs, deferred = _compile_group_ex(
                el.group, ctx, graph, frozenset(bound))
            if deferred:
                acc, bound = _left_join_conditional(
                    acc, bound, df, vs, deferred, ctx)
            else:
                acc, bound = _join(acc, bound, df, vs, how="left")
        elif isinstance(el, MinusBlock):
            df, vs = _compile_group(el.group, ctx, graph)
            on = [f"v_{v}" for v in bound & vs]
            if acc is None:
                raise SparqlError("MINUS cannot be the first pattern")
            if on:
                # RDF4J MinusIteration: drop solutions compatible with
                # any right-side solution on the shared variables
                acc = acc.join(
                    df.select(*on).distinct(), on, "left_anti"
                )
            # no shared variables ⇒ nothing is compatible ⇒ no-op
            # (SPARQL MINUS semantics, unlike NOT EXISTS)
        elif isinstance(el, SubqueryBlock):
            # SPARQL 1.1 subquery: evaluated bottom-up, only its
            # projected variables join the outer group. The ACTIVE
            # graph context threads through (round-5 advice: a
            # subquery nested inside GRAPH evaluates against that
            # named snapshot, not the default graph)
            df, vs = _compile_select(el.query, ctx, graph)
            acc, bound = _join(acc, bound, df, set(vs))
        elif isinstance(el, BindExpr):
            if acc is None:
                raise SparqlError("BIND cannot be the first element")
            if el.var in bound:
                raise SparqlError(f"BIND would rebind ?{el.var}")
            acc = acc.withColumn(f"v_{el.var}", _bind_col(el.expr, bound, ctx))
            bound = bound | {el.var}
        elif isinstance(el, ValuesBlock):
            cells = [
                [None if c is None else ctx.const(c) for c in row]
                for row in el.rows
            ]
            vdf = ctx.local_rows(
                [f"v_{n}" for n in el.names], cells,
                "string" if ctx.encode_const is None else "long",
            )
            acc, bound = _join(acc, bound, vdf, set(el.names))
        elif isinstance(el, GraphBlock):
            df, vs = _compile_group(el.group, ctx, (el.kind, el.rev))
            acc, bound = _join(acc, bound, df, vs)
        elif isinstance(el, UnionBlock):
            branch_out = [_compile_group(b, ctx, graph) for b in el.branches]
            u_vars = set().union(*[vs for _, vs in branch_out])
            # NULL padding carries the SURFACE's column type: long
            # under encode_const, string otherwise — a string pad
            # would silently coerce encoded int64 columns on union
            # (round-5 verdict hardening item)
            pad_type = "long" if ctx.encode_const is not None else "string"
            u = None
            for bdf, bvs in branch_out:
                for v in sorted(u_vars - bvs):   # NULL-pad disjoint vars
                    bdf = bdf.withColumn(f"v_{v}", F.lit(None).cast(pad_type))
                u = bdf if u is None else u.unionByName(bdf)
            acc, bound = _join(acc, bound, u, u_vars)
        else:  # pragma: no cover
            raise SparqlError(f"unknown group element {el!r}")
    if acc is None:
        raise SparqlError("empty group pattern")
    deferred: list = []
    for fe in filters:
        if isinstance(fe, ExistsExpr):
            df, vs = _compile_group(fe.group, ctx, graph)
            on = [f"v_{v}" for v in bound & vs]
            if not on:
                raise SparqlError(
                    "FILTER [NOT] EXISTS needs at least one variable "
                    "shared with the outer group")
            how = "left_anti" if fe.negated else "left_semi"
            acc = acc.join(df.select(*on).distinct(), on, how)
        else:
            fvars = _filter_vars(fe)
            if not (fvars <= bound) and fvars <= (bound | outer_bound):
                # references the enclosing OPTIONAL's outer scope:
                # becomes part of the LeftJoin condition
                deferred.append(fe)
            else:
                acc = acc.filter(_filter_col(fe, bound, ctx))
    return acc, bound, deferred


def _agg_col(p: Projection) -> F.Column:
    if p.agg == "COUNT" and p.arg == "*":
        c = F.count(F.lit(1))
    else:
        arg = F.col(f"v_{p.arg}")
        if p.agg == "COUNT":
            c = F.count_distinct(arg) if p.distinct else F.count(arg)
        elif p.agg == "MIN":
            c = F.min(arg)
        elif p.agg == "MAX":
            c = F.max(arg)
        elif p.agg == "SUM":
            c = F.sum(arg.cast("double"))
        elif p.agg == "SAMPLE":
            # deterministic SAMPLE = MIN (the ★agg_group_concat
            # convention; SPARQL allows any member)
            c = F.min(arg)
        elif p.agg == "GROUP_CONCAT":
            # sorted-DISTINCT concat: deterministic + engine-comparable
            c = F.array_join(
                F.sort_array(F.collect_set(arg.cast("string"))),
                p.sep if p.sep is not None else " ",
            )
        else:  # AVG
            c = F.avg(arg.cast("double"))
    if p.agg == "COUNT":
        c = c.cast("long")
    return c.alias(f"v_{p.var}")


def evaluate(
    triples: Opt[DataFrame],
    query: str,
    *,
    ranges: Opt[DataFrame] = None,
    turns: Opt[DataFrame] = None,
    encode_const: Opt[Callable] = None,
    index: Opt[DataFrame] = None,
) -> DataFrame:
    """Evaluate a SPARQL SELECT. `triples` is the default graph
    (subj, pred, obj), deduplicated per query — pass None when every
    pattern sits inside a GRAPH block or `index` is given. `ranges`
    enables GRAPH temporal contexts, `turns` enables magic predicates,
    `encode_const` converts constant terms driver-side
    (ExprValueConverter analog) for encoded-graph inputs. `index` is
    the loaded store's `views.triple_index(ranges)`: when given, it is
    the default graph (in place of `triples`) and answers
    GRAPH <rev:global|additions|deletions/N> by a range test on each
    triple's array, both with no per-query distinct; GRAPH ?g still
    reads `ranges`. Returns one column per projected variable
    (multiset semantics — SELECT DISTINCT dedups)."""
    q = parse(query)
    ctx = _Ctx(triples, ranges, turns, encode_const, index)

    if isinstance(q, AskQuery):
        # boolean result, fully lazy: one row (ask: true|false)
        acc, _ = _compile_group(q.group, ctx)
        return acc.select(F.lit(1).alias("_x")).agg(
            (F.count("_x") > 0).alias("ask")
        )
    if isinstance(q, ConstructQuery):
        # template instantiation per solution; an RDF graph is a SET,
        # so the result is DISTINCT (RDF4J GraphQueryResult semantics)
        acc, bound = _compile_group(q.group, ctx)
        outs = []
        for pat in q.template:
            cols = []
            for name, t in zip(("subj", "pred", "obj"),
                               (pat.s, pat.p, pat.o)):
                if isinstance(t, Var):
                    if t.name not in bound:
                        raise SparqlError(
                            f"CONSTRUCT template references unbound "
                            f"variable ?{t.name}")
                    cols.append(F.col(f"v_{t.name}").alias(name))
                else:
                    cols.append(F.lit(ctx.const(t)).alias(name))
            outs.append(acc.select(*cols))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        out = out.distinct()
        if q.limit is not None:
            out = out.limit(q.limit)
        return out
    if isinstance(q, DescribeQuery):
        # all triples mentioning the resource(s) in the default graph
        g = ctx.source(None)
        if isinstance(q.term, Var):
            # DESCRIBE ?x WHERE {...} (the RDF4J form served by
            # HistoryRepository): describe every solution binding.
            # Two SEMI-joins against the distinct binding set — a
            # single OR-condition join would force a nested-loop plan
            acc, bound = _compile_group(q.group, ctx)
            if q.term.name not in bound:
                raise SparqlError(
                    f"DESCRIBE ?{q.term.name}: the WHERE clause does not "
                    "bind it")
            vals = acc.select(
                F.col(f"v_{q.term.name}").alias("_node")).distinct()
            by_subj = g.join(
                vals, g["subj"] == vals["_node"], "left_semi")
            by_obj = g.join(
                vals, g["obj"] == vals["_node"], "left_semi")
            return by_subj.unionByName(by_obj).distinct()
        if q.group:
            raise SparqlError(
                "DESCRIBE <const> does not take a WHERE clause")
        c = F.lit(ctx.const(q.term))
        return g.filter((F.col("subj") == c) | (F.col("obj") == c))

    if q.from_graphs:
        # FROM dataset clause: the default graph becomes the union of
        # the named snapshots (one pruned scan each; multi-FROM merge
        # dedups, since the default graph is a SET)
        srcs = [ctx.source(g) for g in q.from_graphs]
        merged = srcs[0]
        for s in srcs[1:]:
            merged = merged.unionByName(s)
        ctx.set_default(merged.distinct() if len(srcs) > 1 else merged)
    acc, out_vars = _compile_select(q, ctx)
    return acc.select(*[F.col(f"v_{v}").alias(v) for v in out_vars])


def _compile_select(q: Query, ctx: _Ctx, graph=None):
    """Compile a SELECT query to (DataFrame with v_<name> columns,
    projected var list) — shared by evaluate() (graph=None) and
    subquery blocks (which thread the enclosing GRAPH context)."""
    acc, bound = _compile_group(q.group, ctx, graph)

    if q.select is None:
        if q.group_by:
            raise SparqlError("GROUP BY requires an explicit SELECT list")
        projs = [Projection(v) for v in sorted(bound)]
    else:
        projs = q.select

    aggs = [p for p in projs if p.agg is not None]
    plain_vars = [p.var for p in projs if p.agg is None]

    if aggs or q.group_by:
        missing = [v for v in q.group_by if v not in bound]
        if missing:
            raise SparqlError(f"GROUP BY references unbound variables: {missing}")
        bad = [v for v in plain_vars if v not in q.group_by]
        if bad:
            raise SparqlError(
                f"SELECT variables not in GROUP BY: {bad} — every plain "
                "projection must be grouped")
        hidden = [
            Projection(f"__h{i}", t.agg, t.arg, t.distinct)
            for i, (t, _, _) in enumerate(q.having)
            if isinstance(t, Projection)
        ]
        for p in aggs + hidden:
            if p.arg != "*" and p.arg not in bound:
                raise SparqlError(
                    f"aggregate references unbound variable ?{p.arg}")
        agg_cols = [_agg_col(p) for p in aggs + hidden]
        acc = acc.groupBy(*[f"v_{v}" for v in q.group_by]).agg(*agg_cols)
        bound = set(q.group_by) | {p.var for p in aggs + hidden}
        for i, (target, op, val) in enumerate(q.having):
            if isinstance(target, Projection) and target.agg == "GROUP_CONCAT":
                # a numeric HAVING over a concat string would cast to
                # NULL and silently drop every group — reject loudly
                raise SparqlError(
                    "HAVING cannot compare GROUP_CONCAT numerically")
            if not isinstance(target, Projection):
                # alias form of the same trap: HAVING(?os > 1) where
                # ?os is SELECT (GROUP_CONCAT(...) AS ?os) — resolve
                # the variable to its SELECT aggregate and apply the
                # identical guard (r6 advice item 1)
                src = next((p for p in aggs if p.var == target), None)
                if src is not None and src.agg == "GROUP_CONCAT":
                    raise SparqlError(
                        "HAVING cannot compare GROUP_CONCAT numerically")
            name = f"__h{i}" if isinstance(target, Projection) else target
            if name not in bound:
                raise SparqlError(
                    f"HAVING references unbound variable ?{name}")
            col = F.col(f"v_{name}").cast("double")
            acc = acc.filter(
                {"=": col == val, "!=": col != val, "<": col < val,
                 ">": col > val, "<=": col <= val, ">=": col >= val}[op]
            )
    elif q.having:
        raise SparqlError("HAVING requires GROUP BY or an aggregate SELECT")

    out_vars = [p.var for p in projs]
    missing = [v for v in out_vars if v not in bound]
    if missing:
        raise SparqlError(f"SELECT references unbound variables: {missing}")
    for var, _ in q.order:
        if var not in bound:
            raise SparqlError(f"ORDER BY references unbound variable ?{var}")
        if q.distinct and var not in out_vars:
            raise SparqlError(
                f"ORDER BY ?{var} must be selected when DISTINCT is used")
    if q.distinct:
        acc = acc.select(*[f"v_{v}" for v in out_vars]).distinct()
        if q.order:
            acc = acc.orderBy(*[
                F.col(f"v_{v}").desc() if d else F.col(f"v_{v}").asc()
                for v, d in q.order
            ])
    else:
        # ORDER BY may reference non-projected variables: sort on the
        # internal columns BEFORE the projection (SPARQL visible-var
        # ordering); Limit(Project(Sort)) still fuses to
        # TakeOrderedAndProject
        if q.order:
            acc = acc.orderBy(*[
                F.col(f"v_{v}").desc() if d else F.col(f"v_{v}").asc()
                for v, d in q.order
            ])
        acc = acc.select(*[f"v_{v}" for v in out_vars])
    if q.offset is not None:
        # solution-sequence slice: OFFSET before LIMIT (deterministic
        # only under ORDER BY, as in SPARQL)
        acc = acc.offset(q.offset)
    if q.limit is not None:
        acc = acc.limit(q.limit)
    return acc, out_vars
