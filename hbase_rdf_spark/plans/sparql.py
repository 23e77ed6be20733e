"""SPARQL front-end: the subset the reference's query corpus uses.

The reference exposes two SPARQL engines (Jena/ARQ and Sesame) over its
pattern-scan layer (reference: nl/vu/jena/, nl/vu/datalayer/hbase/sail/).
Their observable query surface — the 13 quad queries in
reference: data/test-queries.rq, the BSBM mixes in
reference: examples/BSBMQueries.java:5-76 — uses: PREFIX declarations,
prefixed names, the ``a`` keyword, SELECT [DISTINCT|REDUCED], ASK,
DESCRIBE, CONSTRUCT, FROM <g> / GRAPH clauses, basic graph patterns,
FILTER expressions, OPTIONAL, UNION, ORDER BY, LIMIT/OFFSET. Aggregates
(COUNT/SUM/AVG/MIN/MAX + GROUP BY/HAVING) are carried from the Sesame path,
which evaluated them in its in-memory store
(reference: sail/HBaseSailConnection.java:11-87 imports, :522-576) —
here they lower to a real distributed groupBy.

This module parses exactly that subset (recursive descent, no deps) and
compiles it onto the set-oriented BGP executor — SPARQL text in,
DataFrame out. Where ARQ ran a client-side iterator chain, every clause
here lowers to DataFrame algebra: BGP → joins (J2), FILTER → column
predicates pushed by Catalyst (J6/J7), OPTIONAL → group-as-unit left
join (ARQ OpConditional), UNION → unionByName joined onto the group,
ORDER+LIMIT → TakeOrderedAndProject (the reference's TopN transform,
reference: nl/vu/jena/sparql/engine/optimizer/HBaseOptimize.java:103-104).
ORDER BY is type-aware per the spec's total order — sort keys derive
from the binding structs (unbound < entities/IRIs < literals; numeric
literals by VALUE, not by their rendered string), with lexical ties
broken on the materialized form; see ``_add_order_sidecars``.

FILTER surface (J12): numeric/var-vs-var comparisons, term
(in)equality, ``&&``/``||``/``!``, ``bound()``,
``isIRI/isURI/isBlank/isLiteral/isNumeric``, ``str()`` comparisons,
``regex()`` and ``langMatches(lang())`` — one grammar and one
compiler for every expression site, see plans/expr.py
(reference: optimizer/HBaseOptimize.java:75-93 disjunction expansion,
sail/HBaseQueryVisitor.java:289-313 function stringifiers).

Property paths: ``^p`` inverse, ``p1/p2`` sequence, ``p1|p2``
alternative, and the ``+ * ?`` closures, freely composable with parens
(reference flattens paths via stock ARQ, HBaseOptimize.java:111).
Blank nodes in queries (``_:b``, ``[]``) act as non-projectable
variables, per spec.

Group evaluation: each GroupGraphPattern is parsed into ONE ordered
element list (``Query.where``) and evaluated as the SPARQL 1.1 §18.2.2
algebra by one left-to-right fold (``_group_bindings``) — the
reference's "SPARQL text → ARQ Op algebra → reordered BasicPattern"
path, with join order decided in one place (``execute_bgp``'s
reorder). Adjacent triple patterns are one BGP; ``OPTIONAL`` is a
LeftJoin over the elements before it (block filters that read outer
vars are its join condition); ``MINUS`` is a Minus (anti-join on
shared vars; block filters over outer-scope vars see them UNBOUND,
per the spec's no-substitution rule); ``BIND(expr AS ?v)`` is an
Extend at its position (a NULL operand or an error leaves ?v unbound,
and later patterns may join the computed term — ids are
content-addressed, so it carries exactly its dictionary id);
``VALUES`` (in-group, and the trailing ValuesClause, grammar [28]),
``SERVICE``, subqueries, UNION chains and other nested groups are
Joins — SPARQL compatibility where a shared var may be unbound
(``UNDEF`` cells, OPTIONAL misses: the merge keeps the bound side).
The group's FILTERs apply to the whole group; ``FILTER [NOT] EXISTS``
is a semi/anti join (uncorrelated → global emptiness test), and EXISTS
inside any expression, or with block filters over outer vars, reads a
marker column (those filters run on the merged solutions, under
substitution semantics). All of these joins are one §8.3 join,
``_join``. Two rewrites
keep the scans lean: a GRAPH or braced group of triples (plus filters
over its own vars) merges into the group's BGP, and a FILTER whose
vars a BGP certainly binds runs inside it, where Catalyst pushes it
into the scans. A FILTER inside a braced, GRAPH or UNION group sees
only that group's vars. §18.2.1 rejects a BIND whose var is in scope
before it.

Subqueries: nested ``{ SELECT … }`` blocks evaluate bottom-up in ID
SPACE and join the enclosing group on shared variables — the standard
analytic shape (per-group aggregate joined back to detail rows).
Surface: the full group algebra in the WHERE body + aggregates (incl.
the label-space GROUP_CONCAT/SAMPLE, which export kind-1 structs with
a lexical sidecar; expression arguments ``SUM(?a * ?b)`` desugar to a
hidden pre-grouping Extend; SUM/AVG honour DISTINCT) with GROUP
BY/HAVING and DISTINCT, SELECT expressions over the aggregated frame —
``(?tot / COUNT(?o) AS ?avg)``, inline aggregate calls become hidden
aggregates — plus ORDER BY … LIMIT/OFFSET top-k slices (type-aware
sort keys — aggregate aliases sort natively, pattern vars on the
SPARQL total order with a lexical tie-break; Catalyst lowers
sort+limit to TakeOrderedAndProject, no full sort). Property paths
work in every group position — top level, OPTIONAL, UNION branches,
GRAPH with a constant, and GRAPH ?var (per-named-graph pair algebra:
the context id rides the closure as an extra join key, plans/bgp.py
``_path_step``) — matching ARQ's path flattening in the reference
(optimizer/HBaseOptimize.java:28-124). Every nested group — OPTIONAL
body, UNION branch, MINUS and EXISTS body, subquery body — is the
``Query`` parsed inside its braces, evaluated by the same fold.

Dataset semantics: with no dataset clause, patterns scan the
STATEMENT-LEVEL quad view — one solution per containing named graph,
the RDF4J/Sesame repository default the reference's sail layer exposes
(sail/HBaseSailConnection.java getStatements over all contexts). A
triple asserted in k graphs therefore contributes k to non-DISTINCT
aggregates, exactly like the direct BGP API. ``FROM`` switches to the
SPARQL 1.1 §13.2 RDF-merge default graph (set union for ground
triples, dedup in the scan — plans/bgp.py ``_scan_pattern``);
``GRAPH``/``FROM NAMED`` bind or bound the context explicitly.

"""

from __future__ import annotations

import itertools
import json
import re
from dataclasses import dataclass, field, replace as _dc_replace
from functools import reduce as _reduce

from pyspark.sql import DataFrame, functions as F

from hbase_rdf_spark.plans.bgp import (
    Bgp,
    Path,
    execute_bgp,
    materialize,
    pattern_vars,
    _apply_filters,
    _attach_filter_labels,
    _binding_struct,
)
from hbase_rdf_spark.plans.expr import (  # noqa: F401 — re-exported
    AGG_FUNCS,
    FNS,
    Cx,
    ExistsExpr,
    Expr,
    ExprGrammar,
    SparqlSyntaxError,
    _kterm,
    compile_expr,
    etype,
    exists_leaves,
    expr_vars,
    walk,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"

# token order matters: IRIs (no whitespace allowed inside — rules out
# mis-capturing a '<'…'>' span across a FILTER), literals, vars, then
# numbers, pnames (local part may contain but not END with '.', per
# SPARQL PN_LOCAL — 'foaf:Person.' is a pname + the triple terminator),
# multi-char ops BEFORE single-char punctuation ('||' vs '|').
_TOKEN_RX = re.compile(
    r"""
    (?P<iri><[^<>\s]*>)
  | (?P<literal>"(?:[^"\\]|\\.)*"(?:@[A-Za-z-]+|\^\^<[^<>\s]*>)?)
  | (?P<squote>'(?:[^'\\]|\\.)*')
  | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
  | (?P<num>-?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)
  | (?P<pname>(?:[A-Za-z_][A-Za-z0-9_-]*)?:(?:[A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?)?)
  | (?P<op><=|>=|!=|=|<|>|&&|\|\||!|[+-])
  | (?P<punct>[{}()*.,;/|^?\[\]])
  | (?P<word>[A-Za-z_][A-Za-z0-9_-]*)
    """,
    re.VERBOSE,
)

#: the full inlined-numeric value space — every type the scan side
#: treats as numeric (sources/ntriples.py NUMERIC_DATATYPES), longest
#: alternatives first so prefixes ('int' in 'integer') can't shadow
_NUM_DT = re.compile(
    r"\^\^<http://www\.w3\.org/2001/XMLSchema#"
    r"(nonPositiveInteger|nonNegativeInteger|negativeInteger"
    r"|positiveInteger|unsignedLong|unsignedShort|unsignedByte"
    r"|unsignedInt|integer|decimal|double|float|short|long|byte|int)>$"
)

def tokenize(q: str) -> list[str]:
    # strip comments
    q = re.sub(r"(?m)^\s*#.*$", "", q)
    out, pos = [], 0
    while pos < len(q):
        if q[pos].isspace():
            pos += 1
            continue
        m = _TOKEN_RX.match(q, pos)
        if not m:
            raise SparqlSyntaxError(f"bad token at: {q[pos:pos + 30]!r}")
        out.append(m.group(0))
        pos = m.end()
    return out


@dataclass
class Aggregate:
    func: str  # COUNT | SUM | AVG | MIN | MAX
    var: str | None  # None = COUNT(*)
    alias: str
    distinct: bool = False
    # GROUP_CONCAT(?v; SEPARATOR="…") — SPARQL 1.1 §18.5.1.7
    separator: str = " "


class _Undef:
    """Sentinel for an ``UNDEF`` cell in a VALUES row (singleton)."""

    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return "UNDEF"


UNDEF = _Undef()


@dataclass
class ValuesBlock:
    """VALUES inline data: vars (no '?') × constant rows (terms as
    parsed by ``term()``; ``UNDEF`` cells hold the :data:`UNDEF`
    sentinel and translate to unbound (NULL) binding structs)."""

    vars: list[str] = field(default_factory=list)
    rows: list[list] = field(default_factory=list)


@dataclass
class ServiceBlock:
    """``SERVICE [SILENT] <endpoint> { … }`` (SPARQL 1.1 Federated
    Query): the inner group is NOT planned locally — its verbatim token
    span ships to the remote endpoint as ``SELECT * WHERE { … }`` (with
    this query's PREFIX declarations) over the SPARQL protocol, and the
    returned solution sequence joins the enclosing group exactly like a
    VALUES table (compatibility join; remote-unbound cells are UNDEF).

    The reference gets SERVICE free from ARQ inside Fuseki
    (fuseki-config-hbase.ttl front-end, SURVEY S9) — this is the
    engine-side equivalent, paired with ``service.SparqlService`` as
    the server half. Scale posture: a SERVICE result is a remote
    endpoint's capped SELECT response fetched once on the driver (like
    VALUES inline data), not a distributed scan — federation is for
    small dimension-style remote lookups, never for bulk transfer."""

    endpoint: str  # absolute IRI, no <> ("" when endpoint_var is set)
    tokens: tuple  # verbatim token span of the inner group
    silent: bool = False
    prefixes: dict = field(default_factory=dict)
    # vars mentioned in the span — scope/nullability superset used at
    # plan time (the authoritative set is the response's head.vars)
    vars_hint: tuple = ()
    # ``SERVICE ?ep { … }``: the endpoint variable (no '?'). Supported
    # when ?ep is enumerable from a VALUES clause in the query — each
    # candidate IRI is queried and the union of responses (each row
    # extended with its ?ep binding) joins the group; the VALUES
    # compatibility join then enforces ?ep consistency. Truly dynamic
    # endpoint discovery (?ep bound only by graph data) stays an
    # explicit error, like the reference deployment.
    endpoint_var: str | None = None


@dataclass
class BindAssign:
    """``BIND(expr AS ?var)``: var (no '?') ← an expression AST
    (plans/expr.py). In a group's element list it is an Extend at its
    position."""

    var: str
    expr: tuple


@dataclass
class LeftJoin:
    """``OPTIONAL { … }``: the group left-joins onto the solutions of
    the elements before it."""

    group: "Query"


@dataclass
class Minus:
    """``MINUS { … }``: removes the solutions before it that are
    compatible with the group's."""

    group: "Query"


@dataclass
class Union:
    """A braced group, or a ``{ … } UNION { … }`` chain of them (one
    ``Query`` per branch), joined onto the solutions before it."""

    branches: list["Query"]


@dataclass
class Query:
    variables: list[str]  # projected ?vars ('*' expanded at exec)
    form: str = "select"  # select | ask | describe
    distinct: bool = False
    # the WHERE group as SPARQL 1.1 §18.2.2 sees it: its elements in
    # written order — Bgp triple patterns (adjacent ones form one BGP),
    # LeftJoin, Minus, Union, BindAssign, ValuesBlock, ServiceBlock
    # and subqueries (a Query) — evaluated by _group_bindings as one
    # left-to-right fold
    where: list = field(default_factory=list)
    # the group's FILTERs, FILTER [NOT] EXISTS included: they apply to
    # the whole group
    filters: list = field(default_factory=list)
    # trailing VALUES whose vars are aggregate aliases / BIND outputs /
    # non-group-key vars: joined POST-projection on rendered solutions
    # (§18.2.4 joins the ValuesClause after grouping)
    post_values: list[ValuesBlock] = field(default_factory=list)
    aggregates: list[Aggregate] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    # SELECT '(expr AS ?v)' expressions and ORDER BY expression keys,
    # parked here until the whole query is parsed, then staged by
    # _stage_select_exprs: grouped query → postagg_binds (Extend over
    # the aggregated frame); ungrouped → the end of ``where``
    # (ordinary per-solution Extends)
    select_exprs: list[BindAssign] = field(default_factory=list)
    # hidden per-solution Extends for aggregate EXPRESSION arguments
    # (SUM(?a * ?b)), applied just before the groupBy at both
    # aggregation sites
    agg_prebinds: list[BindAssign] = field(default_factory=list)
    postagg_binds: list[BindAssign] = field(default_factory=list)
    describe_target: object = None  # '?var' or constant term
    construct_template: list[Bgp] = field(default_factory=list)
    having: tuple | None = None  # expression AST over the aggregated frame
    order_by: list[tuple[str, bool]] = field(default_factory=list)  # (var, asc)
    # ORDER BY expression keys desugar to hidden binds named __ord_e{i}
    # (staged with the SELECT expressions); listed here so execution can
    # materialize them as sort sidecars and drop them from the output
    order_hidden: list[str] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    # dataset clause (SPARQL 1.1 §13.2): None = no clause (query the
    # whole store); otherwise (default_graphs, named_graphs) tuples —
    # the default graph is the merge of default_graphs, and GRAPH
    # iteration is restricted to named_graphs. Informational here (the
    # restriction is baked into each Bgp's g/g_in at parse time).
    dataset: tuple[tuple, tuple] | None = None

    @property
    def patterns(self) -> list[Bgp]:
        """The group's own triple patterns, in written order."""
        return [e for e in self.where if isinstance(e, Bgp)]


#: an IRI with a scheme is absolute — never BASE-resolved (RFC 3986 §3.1)
_IRI_SCHEME_RX = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

class _Parser(ExprGrammar):
    def __init__(self, tokens: list[str]):
        self.t = tokens
        self.i = 0
        self.prefixes: dict[str, str] = {}
        # BASE in effect (grammar [5]; the reference gets RFC 3986
        # resolution from ARQ's IRIResolver). None = no BASE declared:
        # relative IRIs then pass through verbatim (the engine treats
        # IRIs as opaque identifiers, so scheme-less test vocabularies
        # like <merge> keep working)
        self._base: str | None = None
        self._bn_counter = 0
        # BNODE() value-function call counter (distinct from syntax
        # blank nodes): each no-arg call site gets its own salt
        self._bnfn_counter = 0
        # when non-None, the expression grammar accepts aggregate
        # calls and desugars each into a hidden aggregate of this
        # query — active while parsing SELECT / HAVING / ORDER BY
        # expressions
        self._agg_ctx: Query | None = None
        # dataset clause: None until a FROM / FROM NAMED is parsed,
        # then (default_graphs, named_graphs) — consulted by
        # _graph_slot when stamping graph scope onto patterns
        self._dataset: tuple[tuple, tuple] | None = None

    def peek(self) -> str | None:
        return self.t[self.i] if self.i < len(self.t) else None

    def next(self) -> str:
        tok = self.peek()
        if tok is None:
            raise SparqlSyntaxError("unexpected end of query")
        self.i += 1
        return tok

    def expect(self, word: str) -> None:
        tok = self.next()
        if tok.upper() != word.upper():
            raise SparqlSyntaxError(f"expected {word}, got {tok}")

    def kw(self, word: str) -> bool:
        tok = self.peek()
        if tok is not None and tok.upper() == word.upper():
            self.i += 1
            return True
        return False

    # -- terms ----------------------------------------------------------
    def _prologue(self) -> None:
        """Prologue (grammar [4]): BASE and PREFIX declarations in any
        order, each taking effect for the declarations after it (a
        later BASE resolves against an earlier one, and prefix IRIs
        resolve against the BASE in effect — ARQ's behavior)."""
        while True:
            if self.kw("BASE"):
                b = self.next()
                if not (b.startswith("<") and b.endswith(">")):
                    raise SparqlSyntaxError(f"bad BASE declaration {b!r}")
                self._base = self._resolve_iri(b[1:-1])
            elif self.kw("PREFIX"):
                name = self.next()
                if not name.endswith(":"):
                    raise SparqlSyntaxError(
                        f"bad prefix declaration {name!r}"
                    )
                iri = self.next()
                self.prefixes[name[:-1]] = self._resolve_iri(iri[1:-1])
            else:
                return

    def _resolve_iri(self, s: str) -> str:
        """RFC 3986 resolution against the BASE in effect. Absolute
        IRIs (with a scheme) pass through; so does everything when no
        BASE is declared."""
        if self._base is None or _IRI_SCHEME_RX.match(s):
            return s
        from urllib.parse import urljoin

        return urljoin(self._base, s)

    def _expand_pname(self, tok: str):
        pfx, _, local = tok.partition(":")
        if pfx == "_":
            # blank-node label: a non-projectable variable scoped to the
            # query, per SPARQL semantics
            return f"?__bn_{local}"
        if pfx not in self.prefixes:
            raise SparqlSyntaxError(f"undeclared prefix {pfx!r} in {tok}")
        return self.prefixes[pfx] + local

    def term(self):
        """→ '?var' | constant str | (lexical, kind) | float."""
        tok = self.next()
        if tok.startswith("?"):
            return tok
        if tok == "[":
            # anonymous blank node '[]' → fresh non-projectable variable
            self.expect("]")
            self._bn_counter += 1
            return f"?__bn_anon{self._bn_counter}"
        if tok.startswith("<"):
            # IRI → entity constant (kind 0), BASE-resolved
            return self._resolve_iri(tok[1:-1])
        if tok.lower() in ("true", "false"):
            # grammar [133] BooleanLiteral — inlined numeric, exactly
            # how sources/ntriples.py stores xsd:boolean (1.0 / 0.0)
            return 1.0 if tok.lower() == "true" else 0.0
        if tok.startswith('"'):
            m = re.match(r'^"((?:[^"\\]|\\.)*)"(.*)$', tok)
            lex, suffix = m.group(1), m.group(2)
            lex = lex.replace('\\"', '"').replace("\\\\", "\\")
            if _NUM_DT.search(tok):
                try:
                    return float(lex)
                except ValueError:
                    # ill-typed numeric literal — stored as a kind-1
                    # string with its wrapper (matches the scan side)
                    return (f'"{lex}"{suffix}', 1)
            if suffix == "^^<http://www.w3.org/2001/XMLSchema#boolean>":
                if lex in ("true", "1"):
                    return 1.0
                if lex in ("false", "0"):
                    return 0.0
                return (f'"{lex}"{suffix}', 1)  # ill-typed boolean
            if suffix.startswith("@"):
                # language-tagged literal: stored in N-Triples lexical
                # form '"lex"@lang' (see sources/ntriples.py quads())
                return (f'"{lex}"{suffix}', 1)
            if suffix.startswith("^^"):
                # non-numeric typed literal: quoted N-Triples lexical
                # form, exactly how sources/ntriples.py quads() stores it
                return (f'"{lex}"{suffix}', 1)
            return (lex, 1)
        if ":" in tok:
            return self._expand_pname(tok)
        try:
            return float(tok)
        except ValueError:
            raise SparqlSyntaxError(f"unexpected term {tok}")

    def _pred_term(self):
        """Predicate position: the ``a`` keyword means rdf:type."""
        if self.peek() == "a":
            self.next()
            return RDF_TYPE
        return self.term()

    # -- property paths -------------------------------------------------
    # path := seq ('|' seq)* ; seq := elt ('/' elt)* ;
    # elt := ['^'] primary ['+'|'*'|'?'] ; primary := iri | 'a' | '(' path ')'
    def _path(self):
        """Parse the predicate position → '?var' | IRI str | Path."""
        p = self._path_alt()
        if isinstance(p, Path) and p.op == "atom":
            return p.iri  # plain predicate — the common fast path
        return p

    def _path_alt(self):
        parts = [self._path_seq()]
        while self.peek() == "|":
            self.next()
            parts.append(self._path_seq())
        if len(parts) == 1:
            return parts[0]
        return Path("alt", tuple(self._as_path(p) for p in parts))

    def _path_seq(self):
        parts = [self._path_elt()]
        while self.peek() == "/":
            self.next()
            parts.append(self._path_elt())
        if len(parts) == 1:
            return parts[0]
        return Path("seq", tuple(self._as_path(p) for p in parts))

    def _as_path(self, p) -> Path:
        if isinstance(p, Path):
            return p
        if isinstance(p, str) and p.startswith("?"):
            raise SparqlSyntaxError(
                "a variable cannot appear inside a property-path expression"
            )
        return Path("atom", iri=p)

    def _path_elt(self):
        inv = self.peek() == "^"
        if inv:
            self.next()
        prim = self._path_primary()
        mod = None
        if self.peek() in ("+", "*", "?"):
            mod = self.next()
        elif self.peek() == "{":
            # counted repetition p{n}, p{n,}, p{n,m} — ARQ's path
            # grammar extension (the reference inherits it via Jena;
            # dropped from the SPARQL 1.1 REC but kept by ARQ)
            self.next()
            lo = self._path_count()
            hi: int | None = lo
            if self.peek() == ",":
                self.next()
                hi = None if self.peek() == "}" else self._path_count()
            self.expect("}")
            if hi is not None and hi < lo:
                raise SparqlSyntaxError(
                    f"bad path quantifier {{{lo},{hi}}}: max < min"
                )
            mod = (lo, hi)
        if isinstance(prim, str) and prim.startswith("?"):
            if inv or mod:
                raise SparqlSyntaxError(
                    "path operators on a variable predicate are not valid SPARQL"
                )
            return prim
        if mod is not None:
            prim = Path("mod", (self._as_path(prim),), mod=mod)
        if inv:
            prim = Path("inv", (self._as_path(prim),))
        return prim

    def _path_count(self) -> int:
        tok = self.next()
        if not tok.isdigit():
            raise SparqlSyntaxError(f"bad path quantifier count {tok!r}")
        return int(tok)

    def _path_primary(self):
        if self.peek() == "!":
            self.next()
            return self._neg_prop_set()
        if self.peek() == "(":
            self.next()
            p = self._path_alt()
            self.expect(")")
            return self._as_path(p)
        t = self._pred_term()
        if isinstance(t, str):
            return t  # '?var' or IRI
        raise SparqlSyntaxError(f"invalid path element {t!r}")

    def _neg_prop_set(self) -> Path:
        """Negated property set ``!iri`` / ``!(iri1|^iri2|…)``.

        SPARQL 1.1 §9.1: a set with both forward and inverse members
        splits into ``!(forward…) UNION ^(!(inverse…))`` — handled at
        execution (bgp._neg_pairs); here inverse members are marked by
        wrapping in an 'inv' node."""

        def member() -> Path:
            inv = False
            if self.peek() == "^":
                self.next()
                inv = True
            t = self._pred_term()
            if not isinstance(t, str) or t.startswith("?"):
                raise SparqlSyntaxError(
                    "negated property set members must be IRIs"
                )
            atom = Path("atom", iri=t)
            return Path("inv", (atom,)) if inv else atom

        if self.peek() == "(":
            self.next()
            iris = [member()]
            while self.peek() == "|":
                self.next()
                iris.append(member())
            self.expect(")")
        else:
            iris = [member()]
        return Path("neg", tuple(iris))

    # -- query ----------------------------------------------------------
    def parse(self) -> Query:
        self._prologue()

        head = self.next().upper()
        if head == "SELECT":
            q = Query(variables=[])
            self._select_clause(q)
        elif head == "ASK":
            q = Query(variables=[], form="ask")
        elif head == "DESCRIBE":
            # DESCRIBE ( VarOrIri )+ | '*'  (grammar [11]) — ARQ
            # accepts any mix of vars and IRIs; '*' describes every
            # projectable variable of the WHERE group
            q = Query(variables=[], form="describe")
            if self.peek() == "*":
                self.next()
                q.describe_target = "*"
            else:
                targets: list = []
                while True:
                    tok = self.peek()
                    if (
                        tok is None
                        or tok == "{"
                        or tok.upper() in ("WHERE", "FROM")
                    ):
                        break
                    targets.append(
                        self.next() if tok.startswith("?") else self.term()
                    )
                if not targets:
                    raise SparqlSyntaxError("DESCRIBE needs a target")
                q.describe_target = targets
        elif head == "CONSTRUCT":
            q = Query(variables=[], form="construct")
            if (self.peek() or "").upper() == "WHERE":
                # CONSTRUCT WHERE { TriplesTemplate } shortform (SPARQL
                # 1.1 §10.2.2): the pattern IS the template — filled in
                # after the group parses below
                q.construct_template = None
            else:
                tmpl = self._braced(None)
                if not _plain_triples(tmpl):
                    raise SparqlSyntaxError(
                        "a CONSTRUCT template allows only triples"
                    )
                _reject_template_paths(tmpl.patterns)
                q.construct_template = tmpl.patterns
        else:
            raise SparqlSyntaxError(f"unsupported query form {head}")

        # dataset clause: any number of FROM / FROM NAMED (SPARQL 1.1
        # §13.2). The default graph is the MERGE of all FROM graphs;
        # GRAPH iteration is restricted to the FROM NAMED set. When a
        # dataset clause is present, an absent part is the EMPTY graph
        # (e.g. FROM NAMED only → patterns outside GRAPH match nothing).
        default_graph = None
        defaults: list[str] = []
        named: list[str] = []
        while self.kw("FROM"):
            is_named = self.kw("NAMED")
            g = self.next()
            if g.startswith("<"):
                g = self._resolve_iri(g[1:-1])
            elif ":" in g:
                g = self._expand_pname(g)
            (named if is_named else defaults).append(g)
        if defaults or named:
            self._dataset = (tuple(defaults), tuple(named))
            q.dataset = self._dataset
            default_graph = tuple(defaults)
        if q.form in ("select", "describe", "construct"):
            if q.form == "describe" and self.peek() is None:
                return q  # DESCRIBE <iri> with no pattern
            self.expect("WHERE")
        else:
            self.kw("WHERE")  # ASK WHERE { } — WHERE optional
        self.expect("{")
        self._group(q, default_graph)
        self.expect("}")
        self._modifiers(q)
        if q.form == "construct" and q.construct_template is None:
            # CONSTRUCT WHERE: spec restricts the pattern to a plain
            # triples template — no FILTER/OPTIONAL/UNION/etc., and no
            # property paths (a path is not a triple)
            if not _plain_triples(q):
                raise SparqlSyntaxError(
                    "CONSTRUCT WHERE allows only a plain triples template"
                )
            _reject_template_paths(q.patterns)
            q.construct_template = q.patterns
        self._stage_select_exprs(q)
        return q

    def _select_clause(self, q: Query) -> None:
        # REDUCED permits-but-does-not-require dedup; hash-based
        # dropDuplicates costs the same either way, so both lower to
        # DISTINCT (the reference's DISTINCT→REDUCED transform inverted,
        # reference: optimizer/HBaseOptimize.java:106-107)
        if self.kw("DISTINCT") or self.kw("REDUCED"):
            q.distinct = True
        while True:
            tok = self.peek()
            if tok == "*":
                self.next()
                break
            if tok is not None and tok.startswith("?"):
                q.variables.append(self.next())
            elif tok == "(":
                # unified '( expr AS ?v )': aggregates are ordinary
                # atoms of the expression grammar here (its aggregate
                # hook desugars each into a hidden aggregate and
                # returns a reference to its alias), so plain
                # (SUM(?x) AS ?s), expression arguments SUM(?a*?b),
                # and aggregate combinations (SUM(?a)/SUM(?b) AS ?r)
                # all parse through one path
                self.next()
                n_aggs = len(q.aggregates)
                self._agg_ctx = q
                try:
                    expr = self._expr()
                finally:
                    self._agg_ctx = None
                self.expect("AS")
                v = self.next()
                if not v.startswith("?"):
                    raise SparqlSyntaxError(
                        "projection-expression alias must be a variable"
                    )
                self.expect(")")
                if (
                    expr[0] == "var"
                    and len(q.aggregates) == n_aggs + 1
                    and expr[1] == q.aggregates[-1].alias
                ):
                    # the expression IS one bare aggregate — promote
                    # the hidden aggregate to its declared alias
                    q.aggregates[-1].alias = v
                else:
                    q.select_exprs.append(BindAssign(v[1:], expr))
                q.variables.append(v)
            else:
                break

    def _parse_aggregate(self, q: Query) -> Aggregate:
        """Parse ``FUNC ( [DISTINCT] ( * | ?v | expr ) [; SEPARATOR] )``
        with a placeholder alias. A non-variable argument (SPARQL 1.1
        grammar: any Expression) desugars into a hidden per-solution
        BIND (``q.agg_prebinds`` — evaluated over the group's solutions
        just BEFORE grouping, §18.4) and the aggregate runs over the
        hidden var, so ``SUM(?price * ?qty)`` costs one Extend plus the
        same map-side-combinable Spark aggregate as ``SUM(?x)``."""
        func = self.next().upper()
        self.expect("(")
        distinct = self.kw("DISTINCT")
        v = None
        if self.peek() == "*":
            self.next()
            if func != "COUNT":
                raise SparqlSyntaxError(f"{func}(*) is not valid")
        else:
            after = self.t[self.i + 1] if self.i + 1 < len(self.t) else None
            if (self.peek() or "").startswith("?") and after in (")", ";"):
                v = self.next()  # plain-var fast path: SUM(?x)
            else:
                expr = self._expr()
                hidden = f"__aggarg{len(q.agg_prebinds)}"
                q.agg_prebinds.append(BindAssign(hidden, expr))
                v = "?" + hidden
        sep = self._agg_separator(func)
        self.expect(")")
        return Aggregate(func, v, "?__unaliased", distinct, sep)

    def _stage_select_exprs(self, q: Query) -> None:
        """SELECT-expression staging, decided once the whole query is
        parsed (GROUP BY and HAVING can introduce grouping after the
        SELECT clause): in a grouped query they are Extends over the
        AGGREGATED frame — group keys and aggregate aliases, SPARQL 1.1
        §18.2.4.4 — otherwise ordinary BINDs after the group's last
        element."""
        if q.aggregates or q.group_by:
            q.postagg_binds = q.select_exprs
        else:
            for b in q.select_exprs:
                self._bind(q, b)
        q.select_exprs = []

    def _parse_subselect(self, graph) -> "Query":
        """Parse a SubSelect after its SELECT keyword was peeked:
        consumes SELECT … WHERE { group } modifiers."""
        self.next()  # SELECT
        sq = Query(variables=[])
        self._select_clause(sq)
        self.expect("WHERE")
        self.expect("{")
        self._group(sq, graph)
        self.expect("}")
        self._modifiers(sq)
        self._stage_select_exprs(sq)
        return sq

    def _group(self, q: Query, graph) -> None:
        # group-context stack: lets EXISTS{…} parse as an expression
        # leaf from value positions (BIND, IF conditions) anywhere
        # inside this group's body — ExprGrammar._primary reads the top
        stack = getattr(self, "_gctx", None)
        if stack is None:
            stack = self._gctx = []
        stack.append((q, graph))
        try:
            self._group_body(q, graph)
        finally:
            stack.pop()

    def _braced(self, graph) -> Query:
        """``{ … }`` at the cursor → the group parsed inside."""
        self.expect("{")
        sub = Query(variables=[])
        self._group(sub, graph)
        self.expect("}")
        return sub

    def _group_body(self, q: Query, graph) -> None:
        """The group's elements, appended to ``q.where`` in written
        order; its FILTERs go to ``q.filters``."""
        while True:
            tok = self.peek()
            if tok is None or tok == "}":
                break
            up = tok.upper()
            if up == "GRAPH":
                # the graph scope rides on every pattern parsed inside
                self.next()
                g = self.term()
                self._join_group(q, [self._braced(g)])
            elif up == "OPTIONAL":
                self.next()
                q.where.append(LeftJoin(self._braced(graph)))
            elif up == "MINUS":
                self.next()
                q.where.append(Minus(self._braced(graph)))
            elif up == "SELECT":
                # bare SubSelect as the group's content
                # (GroupGraphPattern ::= '{' (SubSelect | …) '}')
                q.where.append(self._parse_subselect(graph))
            elif up == "FILTER":
                self.next()
                self._filter(q)
            elif up == "VALUES":
                self.next()
                q.where.append(self._values_block())
            elif up == "SERVICE":
                self.next()
                q.where.append(self._service_block())
            elif up == "BIND":
                self.next()
                self.expect("(")
                expr = self._expr()
                self.expect("AS")
                v = self.next()
                if not v.startswith("?"):
                    raise SparqlSyntaxError("BIND alias must be a variable")
                self.expect(")")
                self._bind(q, BindAssign(v[1:], expr))
            elif tok == "{":
                # braced block: a subquery, or a group / UNION chain
                self.next()
                if (self.peek() or "").upper() == "SELECT":
                    sq = self._parse_subselect(graph)
                    self.expect("}")
                    if (self.peek() or "").upper() != "UNION":
                        q.where.append(sq)
                        continue
                    first = Query(variables=[], where=[sq])
                else:
                    first = Query(variables=[])
                    self._group(first, graph)
                    self.expect("}")
                branches = self._branchify(first)
                while self.kw("UNION"):
                    branches += self._branchify(self._braced(graph))
                self._join_group(q, branches)
            elif tok == ".":
                self.next()
            else:
                n_before = len(q.where)
                s = self._node(q, graph)
                # '[ p o ] .' — a bare blank-node property list is a
                # complete triples block; its triples are already emitted
                bare_bnpl = (
                    len(q.where) > n_before
                    and self.peek() in (".", "}", None)
                )
                if not bare_bnpl:
                    self._pred_obj_list(q, graph, s)
                if self.peek() == ".":
                    self.next()

    def _bind(self, q: Query, b: BindAssign) -> None:
        """§18.2.1: the BIND var must not be in scope of the group's
        elements before it."""
        if b.var in _query_scope_vars(q):
            raise SparqlSyntaxError(
                f"BIND ?{b.var} would rebind a variable already in "
                "scope of the group before it"
            )
        q.where.append(b)

    def _join_group(self, q: Query, branches: list[Query]) -> None:
        """A braced or GRAPH group (one branch) or a UNION chain: one
        element joined at its position. A group that holds only
        triples, plus filters over its own variables, merges into the
        group's BGP instead — a Join of BGPs is a BGP."""
        if len(branches) == 1 and _plain_triples(branches[0], own_filters=True):
            q.where += branches[0].where
            q.filters += branches[0].filters
            return
        q.where.append(Union(branches))

    def _graph_slot(self, graph) -> tuple:
        """Map the threaded graph scope + dataset clause → (g, g_in).

        ``graph`` is what parsing threaded down: None (no scope), a
        tuple (FROM default-graph merge), '?var' / constant (GRAPH).
        SPARQL 1.1 §13.2: FROM NAMED restricts GRAPH iteration; with a
        dataset clause present but no FROM NAMED, GRAPH matches the
        empty set; GRAPH <g> outside the named set matches nothing.
        """
        if graph is None:
            return None, None
        if isinstance(graph, tuple):  # FROM default-graph merge
            if len(graph) == 1:
                return graph[0], None  # exact single-graph pushdown
            return None, graph  # () = empty default graph
        if graph.startswith("?"):  # GRAPH ?var
            named = self._dataset[1] if self._dataset is not None else None
            return graph, named
        if self._dataset is not None and graph not in self._dataset[1]:
            return None, ()  # GRAPH <g> outside FROM NAMED
        return graph, None

    def _emit_triple(self, q: Query, graph, s, p, o) -> None:
        g, g_in = self._graph_slot(graph)
        q.where.append(Bgp(s, p, o, g=g, g_in=g_in))

    def _pred_obj_list(self, q: Query, graph, s) -> None:
        """Turtle-style predicateObjectList: ``p1 o1, o2 ; p2 o3``."""
        while True:
            p = self._path()
            while True:  # objectList: 'o1, o2, o3'
                o = self._node(q, graph)
                self._emit_triple(q, graph, s, p, o)
                if self.peek() == ",":
                    self.next()
                    continue
                break
            if self.peek() == ";":
                while self.peek() == ";":  # tolerate stray ';;'
                    self.next()
                if self.peek() in (".", "}", None):
                    break  # trailing ';' before the terminator
                continue
            break

    def _node(self, q: Query, graph):
        """Subject/object position: a term, a blank-node property
        list ``[ p o ; … ]``, or an RDF collection ``( e1 e2 … )`` —
        both TriplesNode forms desugar to fresh non-projectable
        variables plus inline triples (SPARQL grammar [98]/[102])."""
        if self.peek() == "[" and self.t[self.i + 1 : self.i + 2] != ["]"]:
            self.next()
            self._bn_counter += 1
            b = f"?__bn_anon{self._bn_counter}"
            self._pred_obj_list(q, graph, b)
            self.expect("]")
            return b
        if self.peek() == "(":
            # RDF collection: rdf:first/rdf:rest chain ending in
            # rdf:nil (grammar [102] Collection; Turtle §2.8). The
            # empty collection is the rdf:nil IRI itself.
            self.next()
            if self.peek() == ")":
                self.next()
                return RDF_NIL
            elems = []
            while self.peek() is not None and self.peek() != ")":
                elems.append(self._node(q, graph))
            self.expect(")")
            cells = []
            for _ in elems:
                self._bn_counter += 1
                cells.append(f"?__bn_anon{self._bn_counter}")
            for i, el in enumerate(elems):
                self._emit_triple(q, graph, cells[i], RDF_FIRST, el)
                rest = cells[i + 1] if i + 1 < len(elems) else RDF_NIL
                self._emit_triple(q, graph, cells[i], RDF_REST, rest)
            return cells[0]
        return self.term()

    def _branchify(self, sub: "Query") -> list["Query"]:
        """One UNION branch → its branch groups. A branch that is ITSELF
        a single bare UNION chain splices into the enclosing chain —
        UNION is associative, so '{ {A} UNION {B} } UNION {C}' flattens
        to the 3-branch chain A|B|C."""
        if (len(sub.where) == 1 and isinstance(sub.where[0], Union)
                and not sub.filters):
            return list(sub.where[0].branches)
        return [sub]

    def _agg_separator(self, func: str) -> str:
        """Optional ``; SEPARATOR="…"`` tail inside the aggregate's
        parens (SPARQL 1.1 §18.5.1.7, GROUP_CONCAT only)."""
        if self.peek() != ";":
            return " "
        self.next()
        w = self.next()
        if w.upper() != "SEPARATOR":
            raise SparqlSyntaxError(f"expected SEPARATOR, got {w}")
        if func != "GROUP_CONCAT":
            raise SparqlSyntaxError(
                "SEPARATOR is only valid on GROUP_CONCAT"
            )
        self.expect("=")
        tok = self.next()
        m = re.match(r'^"((?:[^"\\]|\\.)*)"$', tok) or re.match(
            r"^'((?:[^'\\]|\\.)*)'$", tok
        )
        if not m:
            raise SparqlSyntaxError("SEPARATOR must be a string literal")
        return m.group(1).replace('\\"', '"').replace("\\\\", "\\")

    def _service_block(self) -> ServiceBlock:
        """``SERVICE [SILENT] <iri> { … }`` or ``SERVICE ?ep { … }``
        with a VALUES-enumerable endpoint variable; the braced group is
        captured VERBATIM as its token span and never planned
        locally."""
        silent = False
        if (self.peek() or "").upper() == "SILENT":
            self.next()
            silent = True
        ep = self.next()
        endpoint_var = None
        if ep.startswith("?"):
            endpoint, endpoint_var = "", ep[1:]
        elif ep.startswith("<") and ep.endswith(">"):
            endpoint = ep[1:-1]
        elif ":" in ep:
            endpoint = self._expand_pname(ep)
        else:
            raise SparqlSyntaxError(
                "SERVICE endpoint must be a constant IRI or a variable"
            )
        self.expect("{")
        depth, toks = 1, []
        while depth:
            t = self.next()
            if t == "{":
                depth += 1
            elif t == "}":
                depth -= 1
            if depth:
                toks.append(t)
        hint = {t[1:] for t in toks if t.startswith("?") and len(t) > 1}
        if endpoint_var:
            hint.add(endpoint_var)
        return ServiceBlock(
            endpoint=endpoint,
            tokens=tuple(toks),
            silent=silent,
            prefixes=dict(self.prefixes),
            vars_hint=tuple(sorted(hint)),
            endpoint_var=endpoint_var,
        )

    def _values_block(self) -> ValuesBlock:
        multi = self.peek() == "("
        vars_: list[str] = []
        if multi:
            self.next()
            while self.peek() != ")":
                v = self.next()
                if not v.startswith("?"):
                    raise SparqlSyntaxError("VALUES vars must be variables")
                vars_.append(v[1:])
            self.expect(")")
        else:
            v = self.next()
            if not v.startswith("?"):
                raise SparqlSyntaxError("VALUES vars must be variables")
            vars_.append(v[1:])
        self.expect("{")
        rows: list[list] = []
        while self.peek() != "}":
            if multi:
                self.expect("(")
                row = []
                while self.peek() != ")":
                    row.append(self._values_term())
                self.expect(")")
            else:
                row = [self._values_term()]
            if len(row) != len(vars_):
                raise SparqlSyntaxError(
                    f"VALUES row arity {len(row)} != {len(vars_)} vars"
                )
            rows.append(row)
        self.expect("}")
        return ValuesBlock(vars_, rows)

    def _values_term(self):
        tok = self.peek()
        if tok is not None and tok.upper() == "UNDEF":
            self.next()
            return UNDEF
        t = self.term()
        if isinstance(t, str) and t.startswith("?"):
            raise SparqlSyntaxError("VALUES data must be constants")
        return t

    # -- expressions: the grammar is ExprGrammar (plans/expr.py) -------
    def _filter(self, q: Query) -> None:
        # FILTER(expr), or the bare builtin-call / [NOT] EXISTS form:
        # FILTER langMatches(...), FILTER !bound(...), FILTER EXISTS {…}
        e = self._unary()
        # split a top-level conjunction so each conjunct pushes down
        # independently (the reference's filter-placement transform,
        # HBaseTransformFilterPlacement.java)
        q.filters += [Expr(c) for c in (e[1:] if e[0] == "and" else [e])]

    def _parse_exists_leaf(self, ctx):
        """[NOT] EXISTS { … } at the cursor → (ExistsExpr, negated),
        or None (cursor restored) when what's here isn't that form."""
        save = self.i
        up = (self.peek() or "").upper()
        neg = False
        if up == "NOT":
            self.next()
            if (self.peek() or "").upper() == "EXISTS":
                neg = True
            else:
                self.i = save
                return None
        elif up != "EXISTS":
            return None
        self.next()  # EXISTS
        if self.peek() != "{":
            self.i = save  # e.g. a var named ?EXISTS… — not ours
            return None
        sub = self._braced(ctx[1])
        self._exm_n = getattr(self, "_exm_n", 0) + 1
        return ExistsExpr(marker=f"__exm{self._exm_n}", block=sub), neg

    def _modifiers(self, q: Query) -> None:
        if self.kw("GROUP"):
            self.expect("BY")
            # GroupCondition (grammar [19]): Var | '(' Expression
            # ('AS' Var)? ')' | BuiltInCall. Expression keys desugar
            # to a per-solution Extend over the group's solutions and
            # a grouping on its output — exactly §18.5.1's
            # Group(exprlist, Ω) which evaluates each key expression
            # per solution. A bare '(expr)' / builtin-call key groups
            # under a hidden __gk* var the projection never emits.
            while True:
                tok = self.peek()
                if tok is None:
                    break
                if tok.startswith("?"):
                    q.group_by.append(self.next())
                    continue
                is_call = (
                    tok.lower() in FNS
                    and self.i + 1 < len(self.t)
                    and self.t[self.i + 1] == "("
                )
                if tok == "(":
                    self.next()
                    expr = self._expr()
                    if self.kw("AS"):
                        v = self.next()
                        if not v.startswith("?"):
                            raise SparqlSyntaxError(
                                "GROUP BY alias must be a variable"
                            )
                        name = v[1:]
                    else:
                        name = f"__gk{len(q.group_by)}"
                    self.expect(")")
                elif is_call:
                    expr = self._primary()
                    name = f"__gk{len(q.group_by)}"
                else:
                    break
                q.where.append(BindAssign(name, expr))
                q.group_by.append("?" + name)
            if not q.group_by:
                raise SparqlSyntaxError("GROUP BY needs at least one key")
            if self.kw("HAVING"):
                # HAVING HavingCondition+ (SPARQL 1.1 grammar [21]):
                # each condition is any expression over the aggregated
                # frame — the same one a post-aggregation SELECT
                # expression may use (the reference inherits full
                # HAVING from Sesame/ARQ, SURVEY SE2). An aggregate
                # call reuses an identical SELECT aggregate or becomes
                # a hidden one the projection never emits. Multiple
                # bracketed conditions conjoin.
                self._agg_ctx = q
                try:
                    self.expect("(")
                    conds = [self._expr()]
                    self.expect(")")
                    while self.peek() == "(":
                        conds.append(self._primary())
                finally:
                    self._agg_ctx = None
                q.having = conds[0] if len(conds) == 1 else ("and", *conds)
        if self.kw("ORDER"):
            self.expect("BY")
            while True:
                tok = self.peek()
                if tok is None:
                    break
                up = tok.upper()
                asc = None
                if up in ("ASC", "DESC"):
                    self.next()
                    self.expect("(")
                    asc = up == "ASC"
                elif tok.startswith("?"):
                    q.order_by.append((self.next(), True))
                    continue
                elif tok == "(" or (
                    (up in AGG_FUNCS or tok.lower() in FNS)
                    and self.i + 1 < len(self.t)
                    and self.t[self.i + 1] == "("
                ):
                    pass  # bracketed / builtin-call / aggregate key
                else:
                    break
                # expression sort key (SPARQL 1.1 grammar [24]
                # OrderCondition): parse as a value expression —
                # aggregates desugar to hidden ?__haggN aliases like
                # SELECT expressions do — and desugar the key itself to
                # a hidden bind the executor materializes as a sort
                # sidecar and drops from the output
                save_ctx = self._agg_ctx
                self._agg_ctx = q
                try:
                    e = self._expr() if asc is not None else self._additive()
                finally:
                    self._agg_ctx = save_ctx
                if asc is not None:
                    self.expect(")")
                if e[0] == "var":
                    q.order_by.append((e[1], asc if asc is not None else True))
                    continue
                if q.distinct and q.variables:
                    # with DISTINCT the key is computed per distinct
                    # solution, which is only well-defined when the
                    # expression is a function of the projection
                    proj = {
                        v[1:] for v in q.variables if v.startswith("?")
                    } | {a.alias[1:] for a in q.aggregates}
                    bad = sorted(expr_vars(e) - proj)
                    if bad:
                        raise SparqlSyntaxError(
                            "ORDER BY expression under DISTINCT may "
                            f"only use projected variables: {bad}"
                        )
                name = f"__ord_e{len(q.order_hidden)}"
                q.order_hidden.append(name)
                q.select_exprs.append(BindAssign(name, e))
                q.order_by.append((f"?{name}", asc if asc is not None else True))
        if self.kw("LIMIT"):
            q.limit = int(self.next())
        if self.kw("OFFSET"):
            q.offset = int(self.next())
        if self.kw("VALUES"):
            # trailing ValuesClause (SPARQL 1.1 grammar [28]): the
            # inline table joins the query's solutions. For vars bound
            # by graph patterns the in-group compatibility join is
            # equivalent (group keys pass through aggregation
            # unchanged; new vars extend every solution) — a VALUES
            # over an aggregate alias or BIND output would need a
            # post-projection join and is rejected explicitly.
            vb = self._values_block()
            post = {a.alias[1:] for a in q.aggregates} | {
                b.var for b in q.where if isinstance(b, BindAssign)
            }
            needs_post = bool(set(vb.vars) & post)
            if (q.aggregates or q.group_by) and not needs_post:
                # SPARQL 18.2.4 joins the ValuesClause AFTER grouping:
                # only group keys survive aggregation with their
                # bindings, so only they may fold into the group; a
                # non-group-key var is unbound post-aggregation and
                # must join the projected solutions instead (where the
                # VALUES row binds it freely, counts unchanged).
                gkeys = {v[1:] for v in q.group_by}
                needs_post = bool(set(vb.vars) - gkeys)
            # round 5: VALUES over aggregate aliases / BIND outputs /
            # non-group-key vars joins POST-projection on the rendered
            # solutions (previously an explicit rejection)
            (q.post_values if needs_post else q.where).append(vb)


def _plain_triples(q: Query, own_filters: bool = False) -> bool:
    """Whether a group is a plain triples block: triple patterns only,
    with no FILTER — or, with ``own_filters``, with FILTERs that read
    only variables its patterns bind (no EXISTS)."""
    if not all(isinstance(e, Bgp) for e in q.where):
        return False
    if not own_filters:
        return not q.filters
    pv = pattern_vars(q.where)
    return all(f.vars() <= pv and not exists_leaves(f.ast) for f in q.filters)


def _query_scope_vars(q: Query) -> set[str]:
    """The variables a group's elements can bind (§18.2.1 in-scope):
    patterns, BIND targets, VALUES and SERVICE vars, subquery
    projections, and OPTIONAL bodies and UNION branches recursively.
    MINUS binds nothing outside itself."""
    names: set[str] = set()
    for e in q.where:
        if isinstance(e, Bgp):
            names |= pattern_vars([e])
        elif isinstance(e, BindAssign):
            names.add(e.var)
        elif isinstance(e, ValuesBlock):
            names |= set(e.vars)
        elif isinstance(e, ServiceBlock):
            names |= set(e.vars_hint)
        elif isinstance(e, Query):
            names |= set(_subquery_out_names(e))
        elif isinstance(e, LeftJoin):
            names |= _query_scope_vars(e.group)
        elif isinstance(e, Union):
            for br in e.branches:
                names |= _query_scope_vars(br)
    return names


# kind-1 lexical of a typed literal with a non-xsd:string datatype —
# outside the §17.2.2 EBV domain (plain / lang-tagged / xsd:string
# literals have string EBV; booleans and numerics inline to kind 2)
_EBV_NONSTR_RX = (
    r'^".*"\^\^<(?!http://www\.w3\.org/2001/XMLSchema#string>)[^<>]*>$'
)


def parse(query: str) -> Query:
    return _Parser(tokenize(query)).parse()


# ---------------------------------------------------------------------------
# execution
# ---------------------------------------------------------------------------

def _add_order_sidecars(df: DataFrame, order_by) -> tuple[DataFrame, set[str]]:
    """Attach ``__ord_{v}_k`` / ``__ord_{v}_n`` sort-key columns for each
    ORDER BY var still in binding-struct form.

    SPARQL's total order is type-aware — lexicographic sort over the
    materialized strings would rank "150.0" before "50.0". The sidecars
    reproduce the spec order where it is defined and a deterministic
    extension where it is not: unbound (-1) < blank nodes (-0.5,
    refined at sort time from the rendered ``_:`` prefix) <
    entities/IRIs (0) < literals (1); numeric literals compare by
    value and sort before string literals (num NULL); remaining ties
    break on the materialized lexical form — tagged/typed literals
    render with their full ``"lex"@lang`` / ``"lex"^^<dt>`` wrapper,
    so the tie-break distinguishes them deterministically where the
    spec leaves the order undefined.
    """
    added: set[str] = set()
    structy = {
        f.name for f in df.schema.fields
        if f.dataType.typeName() == "struct"
    }
    for v, _asc in order_by:
        name = v[1:]
        if name not in structy or name in added:
            continue
        b = F.col(name)
        df = df.withColumn(
            f"__ord_{name}_k",
            F.when(b.isNull(), F.lit(-1))
            .when(b.getField("kind") == 0, F.lit(0))
            .otherwise(F.lit(1)),
        ).withColumn(f"__ord_{name}_n", b.getField("num"))
        added.add(name)
    return df, added


def _agg_expr(a: Aggregate):
    if a.func == "COUNT":
        if a.var is None:
            return F.count(F.lit(1)).alias(a.alias[1:])
        col = F.col(a.var[1:])
        return (
            F.countDistinct(col) if a.distinct else F.count(col)
        ).alias(a.alias[1:])
    if a.func in ("GROUP_CONCAT", "SAMPLE"):
        # label-space aggregates: operate on the pre-materialized lexical
        # column (see the label-attach step in execute()). Deterministic:
        # GROUP_CONCAT sorts its members; SAMPLE picks the minimum.
        lbl = F.col(f"__{a.var[1:]}_lbl")
        if a.func == "SAMPLE":
            return F.min(lbl).alias(a.alias[1:])
        members = F.collect_set(lbl) if a.distinct else F.collect_list(lbl)
        return F.concat_ws(
            getattr(a, "separator", " "), F.sort_array(members)
        ).alias(a.alias[1:])
    num = F.col(a.var[1:]).getField("num")
    if a.distinct and a.func in ("SUM", "AVG"):
        # §18.5.1: Distinct applies to the multiset of argument values.
        # MIN/MAX are insensitive; AVG(DISTINCT) = SUM/COUNT of the
        # distinct values (try_divide: empty group → NULL, not error)
        if a.func == "SUM":
            return F.sum_distinct(num).alias(a.alias[1:])
        return F.try_divide(
            F.sum_distinct(num), F.count_distinct(num)
        ).alias(a.alias[1:])
    fn = {"SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max}[a.func]
    return fn(num).alias(a.alias[1:])


def _attach_labels(result, store, var_names):
    """Join the lexical label for each var (numeric fallback) as
    ``__{v}_lbl`` — needed by label-space aggregates BEFORE grouping.
    A var carrying a ``__{v}_vlex`` sidecar (BIND-produced string,
    VALUES literal) uses it first: its in-plan hash id is not in the
    dictionary, so the id2term join would miss."""
    for v in var_names:
        d = store.id2term().select(
            F.col("id").alias(f"__{v}_aid"), F.col("label").alias(f"__{v}_albl")
        )
        side = (
            [F.col(f"__{v}_vlex")]
            if f"__{v}_vlex" in result.columns
            else []
        )
        result = (
            result.join(
                d, result[v].getField("id") == d[f"__{v}_aid"], "left"
            )
            .withColumn(
                f"__{v}_lbl",
                F.coalesce(
                    *side,
                    F.col(f"__{v}_albl"),
                    F.col(v).getField("num").cast("string"),
                ),
            )
            .drop(f"__{v}_aid", f"__{v}_albl")
        )
    return result


def _describe(
    store, q: Query, bindings: DataFrame | None, with_kinds: bool = False
) -> DataFrame:
    """DESCRIBE: all triples whose subject is the described resource(s) —
    the subject-triples handler of the reference (J11, execDescribeTriples,
    reference: examples/RunJenaHBase.java:93-98).

    ``with_kinds`` (service layer): emit ``__k_s/__k_p/__k_o`` term-kind
    sidecars — s/p are always entities, o's kind comes off the index —
    so the N-Triples serializer types terms exactly."""
    from hbase_rdf_spark.plans.patterns import encode_term

    targets = q.describe_target
    if targets == "*":
        assert bindings is not None
        targets = [
            f"?{c}" for c in bindings.columns if not c.startswith("__")
        ]
    elif not isinstance(targets, list):  # legacy single-target form
        targets = [targets]
    id_frames = []
    for term in targets:
        if isinstance(term, str) and term.startswith("?"):
            assert bindings is not None
            id_frames.append(
                bindings.select(F.col(term[1:]).getField("id").alias("s"))
            )
        else:
            lex = term if isinstance(term, str) else term[0]
            kind = 0 if isinstance(term, str) else term[1]
            id_frames.append(
                store.spark.range(1).select(encode_term(lex, kind).alias("s"))
            )
    ids = id_frames[0]
    for fr in id_frames[1:]:
        ids = ids.unionByName(fr)
    ids = ids.distinct()
    triples = store.index("spo").join(ids, "s", "left_semi")
    i2t = store.id2term()
    out = triples
    for pos in ("s", "p", "o"):
        d = i2t.select(
            F.col("id").alias(f"__{pos}_id"), F.col("label").alias(f"__{pos}_l")
        )
        out = out.join(d, out[pos] == d[f"__{pos}_id"], "left")
    # a DESCRIBE result is a GRAPH (set of triples): the same fact
    # asserted in several contexts must appear once
    cols = [
        F.col("__s_l").alias("s"),
        F.col("__p_l").alias("p"),
        F.coalesce(F.col("__o_l"), F.col("o_num").cast("string")).alias("o"),
    ]
    if with_kinds:
        cols += [
            F.lit(0).cast("tinyint").alias("__k_s"),
            F.lit(0).cast("tinyint").alias("__k_p"),
            F.col("o_kind").cast("tinyint").alias("__k_o"),
        ]
    return out.select(*cols).dropDuplicates()


def _construct(
    store, q: Query, bindings: DataFrame, with_kinds: bool = False
) -> DataFrame:
    """CONSTRUCT: instantiate the template once per binding, union the
    per-pattern projections, distinct — stock-ARQ semantics (J11).

    ``with_kinds``: emit ``__k_s/__k_p/__k_o`` sidecars — a var slot's
    kind comes from materialization, a constant slot's from its parsed
    term (IRI 0 / literal tuple 1 / float 2), template bnodes are 0."""
    def _is_var(e):
        return isinstance(e, str) and e.startswith("?")

    tmpl_vars = sorted(
        {
            e[1:]
            for pat in q.construct_template
            for e in (pat.s, pat.p, pat.o)
            if _is_var(e)
        }
    )
    # template-only blank nodes (§16.2: a fresh blank node per
    # solution, shared across the template's patterns within one
    # solution): not bound by the WHERE clause, so they render as a
    # content-addressed label — hash of the solution's bound template
    # vars + the bnode's template slot (deterministic across runs,
    # distinct across solutions)
    bound = set(bindings.columns)
    fresh_bns = [
        v for v in tmpl_vars if v.startswith("__bn_") and v not in bound
    ]
    tmpl_vars = [v for v in tmpl_vars if v not in fresh_bns]
    if fresh_bns:
        # hash the WHOLE solution (all binding structs, not just the
        # template's vars) so two solutions differing only in a
        # non-template var still get distinct nodes; duplicate
        # solutions share one (the triple set dedups regardless)
        sol_cols = [c for c in bindings.columns if not c.startswith("__")]
        for bn in fresh_bns:
            bindings = bindings.withColumn(
                bn,
                F.concat(
                    F.lit("_:c"),
                    F.abs(
                        F.xxhash64(F.lit(bn), *[F.col(c) for c in sol_cols])
                    ).cast("string"),
                ),
            )
    mat = materialize(
        bindings, store, [f"?{v}" for v in tmpl_vars],
        keep=fresh_bns, with_kinds=with_kinds,
    )

    def render(e):
        if _is_var(e):
            return F.col(e[1:])
        if isinstance(e, tuple):
            return F.lit(e[0])
        return F.lit(str(e))

    def kind_of(e):
        if _is_var(e):
            n = e[1:]
            if n in fresh_bns:  # template bnode → entity
                return F.lit(0).cast("tinyint")
            return F.col(f"__k_{n}")
        if isinstance(e, tuple):
            return F.lit(int(e[1])).cast("tinyint")
        if isinstance(e, float):
            return F.lit(2).cast("tinyint")
        return F.lit(0).cast("tinyint")  # IRI constant

    out = None
    for pat in q.construct_template:
        cols = [
            render(pat.s).alias("s"),
            render(pat.p).alias("p"),
            render(pat.o).alias("o"),
        ]
        if with_kinds:
            cols += [
                kind_of(pat.s).alias("__k_s"),
                kind_of(pat.p).alias("__k_p"),
                kind_of(pat.o).alias("__k_o"),
            ]
        rowset = mat.select(*cols)
        out = rowset if out is None else out.unionByName(rowset)
    assert out is not None, "empty CONSTRUCT template"
    # a binding with an unbound (OPTIONAL) var yields no triple for
    # patterns using it, per SPARQL semantics
    return out.filter(
        F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull()
    ).dropDuplicates()


def _inline_table(spark, rows: list, cols: list) -> DataFrame:
    """A small table of driver-side ``rows`` with ``cols`` (name, type)
    pairs. The rows ride one JSON literal that the JVM unpacks, so no
    Python worker runs when a plan scans the table, however often."""
    schema = ",".join(f"c{i}:{t}" for i, (_, t) in enumerate(cols))
    data = json.dumps([{f"c{i}": x for i, x in enumerate(r)} for r in rows])
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(F.lit(data), f"array<struct<{schema}>>"))
    ).toDF(*[n for n, _ in cols])


def _values_df(store, vb: ValuesBlock) -> DataFrame:
    """VALUES rows → a DataFrame of binding structs (one col per var).

    Ids are computed with the SAME in-plan hash as pattern constants
    (xxhash64(kind, lex)), so the join keys line up with scan output.
    """

    flat_rows = []
    for row in vb.rows:
        flat: list = []
        for t in row:
            if t is UNDEF:
                flat += [None, None, None]
            elif isinstance(t, (int, float)) and not isinstance(t, bool):
                flat += [None, 2, float(t)]
            else:
                lex, kind = t if isinstance(t, tuple) else (t, 0)
                flat += [lex, kind, None]
        flat_rows.append(tuple(flat))
    df = _inline_table(store.spark, flat_rows, [
        (f"__{v}_{c}", t) for v in vb.vars
        for c, t in (("lex", "string"), ("kind", "int"), ("num", "double"))
    ])
    undef = _nullable(vb)
    cols = []
    for v in vb.vars:
        k, lex = F.col(f"__{v}_kind"), F.col(f"__{v}_lex")
        ident = F.when(k != 2, F.xxhash64(k.cast("int"), lex))
        term = _binding_struct(k, ident, F.col(f"__{v}_num"))
        # an UNDEF cell (NULL kind) is an unbound var: the whole struct
        # is NULL, matching how OPTIONAL leaves vars unbound. A column
        # with no UNDEF stays non-nullable, so Catalyst prunes the
        # null-key legs of ``_join``
        cols.append((F.when(k.isNotNull(), term) if v in undef else term).alias(v))
        # VALUES may introduce terms absent from the store dictionary;
        # carry the lexical form so materialize() can still render them
        cols.append(lex.alias(f"__{v}_vlex"))
    # a handful of inline rows: every join with them broadcasts them
    return F.broadcast(df.select(*cols))


_SERVICE_VAR_MAX_ENDPOINTS = 8


def _service_values_block(
    sb: ServiceBlock, values_blocks=(),
) -> ValuesBlock | None:
    """Execute a SERVICE block against its endpoint and shape the
    response as a ValuesBlock (SPARQL 1.1 Federated Query §2.2: the
    SERVICE solution sequence joins the group like any other).

    The remote query is ``SELECT * WHERE { <verbatim token span> }``
    prefixed with the outer query's PREFIX declarations — the tokens
    re-serialize losslessly (each is self-delimiting), so the remote
    engine sees exactly the group the user wrote, including OPTIONAL /
    FILTER / paths this engine never has to plan. Failure: plain
    SERVICE re-raises (query aborts); SERVICE SILENT returns ``None``,
    which the caller treats as the unit solution (join identity), per
    §4.

    ``SERVICE ?ep``: the candidate endpoints are enumerated from the
    query's VALUES clauses (the standard federation idiom — truly
    dynamic discovery from graph data stays an error). Each candidate
    is queried; the union of responses, each row extended with its
    ?ep binding, joins the group, and the VALUES compatibility join
    enforces ?ep consistency. Per-endpoint SILENT failures contribute
    that endpoint's unit solution (?ep bound, everything else UNDEF)."""
    from hbase_rdf_spark.service import fetch_bindings

    text = "".join(
        f"PREFIX {p}: <{iri}>\n" for p, iri in sb.prefixes.items()
    ) + "SELECT * WHERE { " + " ".join(sb.tokens) + " }"
    if not sb.endpoint_var:
        try:
            head_vars, rows = fetch_bindings(sb.endpoint, text)
        except RuntimeError:
            if sb.silent:
                return None
            raise
        return ValuesBlock(vars=head_vars, rows=rows)

    cands: list[str] = []
    for vb in values_blocks:
        if sb.endpoint_var in vb.vars:
            i = vb.vars.index(sb.endpoint_var)
            for row in vb.rows:
                cell = row[i]
                iri = (
                    cell if isinstance(cell, str)
                    else cell[0] if isinstance(cell, tuple) else None
                )
                if iri and not iri.startswith("_:") and iri not in cands:
                    cands.append(iri)
    if not cands:
        raise SparqlSyntaxError(
            f"SERVICE ?{sb.endpoint_var} requires the endpoint variable "
            "to be enumerable from a VALUES clause in the query"
        )
    if len(cands) > _SERVICE_VAR_MAX_ENDPOINTS:
        raise SparqlSyntaxError(
            f"SERVICE ?{sb.endpoint_var} enumerates {len(cands)} "
            f"endpoints (cap {_SERVICE_VAR_MAX_ENDPOINTS})"
        )
    per: list[tuple[str, list[str], list[list]]] = []
    for ep in cands:
        try:
            hv, rows = fetch_bindings(ep, text)
        except RuntimeError:
            if sb.silent:
                per.append((ep, [], [[]]))  # unit solution for this ep
                continue
            raise
        per.append((ep, hv, rows))
    out_vars = [sb.endpoint_var] + sorted(
        set().union(set(), *(set(hv) for _, hv, _ in per))
        - {sb.endpoint_var}
    )
    out_rows: list[list] = []
    for ep, hv, rows in per:
        ep_cell = (ep, 0)  # KIND_ENTITY tuple, term_from_json shape
        for r in rows:
            m = dict(zip(hv, r))
            out_rows.append(
                [ep_cell] + [m.get(v, UNDEF) for v in out_vars[1:]]
            )
    return ValuesBlock(vars=out_vars, rows=out_rows)


def _attach_any_labels(result: DataFrame, store, names: list[str]):
    """Attach ``__{v}_flbl`` label columns for label-space evaluation
    (``bgp._attach_filter_labels``: a vlex sidecar, else one id2term
    join). Returns (df, attached-column-names)."""
    attach = [v for v in names if f"__{v}_flbl" not in result.columns]
    result = _attach_filter_labels(store, result, attach)
    return result, [f"__{v}_flbl" for v in attach]


def _apply_binds(
    result: DataFrame, store, binds: list[BindAssign], nullable: set
) -> DataFrame:
    """Extend solutions with BIND assignments, in order.

    Each expression compiles to a term (plans/expr.py): constants get
    the same in-plan xxhash64 id as pattern constants; terms possibly
    absent from the dictionary carry a ``__{v}_vlex`` sidecar so
    ``materialize`` can render them; computed numbers are kind-2
    structs with a NULL id. An error nulls the whole struct (unbound),
    matching OPTIONAL's null-extension. An EXISTS leaf's marker
    attaches just before its BIND compiles, so the block sees every
    earlier BIND of the batch (``nullable``: the vars the solutions
    may leave unbound)."""
    # label columns attached for ANY bind in this batch are dropped
    # once at the end: two BINDs reading the same var's label (e.g.
    # DAY(?t) and HOURS(?t)) share one id2term join
    all_attached: list[str] = []
    if any(n[0] == "bnode" for b in binds for n in walk(b.expr)):
        # one SOLUTION-identity hash for the whole batch, captured
        # BEFORE any of its BINDs extend the row: two BNODE("k") calls
        # in the batch must agree no matter how many binds sit between
        # them (a later bind's output column must not perturb the hash)
        result = result.withColumn(
            "__bnsol",
            F.xxhash64(
                *[F.col(c) for c in result.columns
                  if not c.startswith("__")]
            ),
        )
        all_attached.append("__bnsol")
    filled: list[str] = []
    for b in binds:
        for ex in exists_leaves(b.expr):
            result = _exists_join(store, result, ex, nullable, "left")
            all_attached.append(ex.marker)
        absent = sorted(expr_vars(b.expr) - set(result.columns))
        if absent:
            # a var nothing before the BIND binds is unbound there
            result = result.select(
                "*", *[F.lit(None).cast(_UNBOUND).alias(v) for v in absent]
            )
            filled += absent
        cx = Cx(result.columns)
        struct, vlex = compile_expr(b.expr, "term", cx)
        # a VALUES/BIND-produced var may be dictionary-absent: its vlex
        # sidecar IS the label (_attach_any_labels prefers it)
        result, attached = _attach_any_labels(result, store, sorted(cx.labels))
        all_attached += attached
        result = result.withColumn(b.var, struct)
        if vlex is not None:
            result = result.withColumn(f"__{b.var}_vlex", vlex)
        nullable = nullable | {b.var, *absent}
    targets = {b.var for b in binds}
    return result.drop(*all_attached, *[v for v in filled if v not in targets])


def _agg_scope(aggregates: list, gvars: list) -> Cx:
    """Compile scope over the aggregated frame: aggregate aliases are
    scalars (GROUP_CONCAT/SAMPLE strings, the rest numbers), group keys
    stay binding structs."""
    return Cx(
        scalars={
            a.alias[1:]: "str" if a.func in ("GROUP_CONCAT", "SAMPLE")
            else "num"
            for a in aggregates
        },
        gvars=gvars,
    )


def _having_filter(df: DataFrame, store, having, aggregates, gvars):
    """HAVING: one compiled condition over the aggregated frame; an
    error (NULL) eliminates the group."""
    cx = _agg_scope(aggregates, gvars)
    cond = compile_expr(having, "bool", cx)
    df, attached = _attach_any_labels(df, store, sorted(cx.labels))
    return df.filter(cond).drop(*attached)


def _apply_postagg(
    df: DataFrame, store, binds: list, aggregates: list, gvars: list
) -> tuple[DataFrame, list, list]:
    """Extend the aggregated frame with the query's SELECT expressions
    (SPARQL 1.1 §18.2.4.4). Returns ``(df, scalar_aliases,
    term_aliases)``: scalar targets pass through materialization
    verbatim like aggregate aliases; a bare copy of a group var stays a
    binding struct (term) and materializes with the group keys. Pure
    projection — no shuffle."""
    term_aliases: list = []
    scalar_aliases: list = []
    attached: list = []
    cx = _agg_scope(aggregates, gvars)
    for b in binds:
        e = b.expr
        src = e[1][1:] if e[0] == "var" else None
        if src in cx.gvars and src not in cx.scalars:
            df = df.withColumn(b.var, F.col(src))
            if f"__{src}_vlex" in df.columns:
                df = df.withColumn(f"__{b.var}_vlex", F.col(f"__{src}_vlex"))
            term_aliases.append(b.var)
            continue
        t = "str" if etype(e, cx) == "str" else "num"  # bool/term → num
        # a bare scalar copy keeps its column type (COUNT stays integral)
        col = F.col(cx.var(e)) if src else compile_expr(e, t, cx)
        df, att = _attach_any_labels(df, store, sorted(cx.labels))
        attached += att
        df = df.withColumn(b.var, col)
        scalar_aliases.append(b.var)
        cx.scalars[b.var] = cx.scalars.get(src, t)
    return df.drop(*attached), scalar_aliases, term_aliases


def _aggregate(result: DataFrame, store, q: Query):
    """Group + aggregate + HAVING + SELECT expressions over the
    aggregated frame — one path for the top level and subqueries.
    Returns ``(grouped, scalar_aliases, term_aliases)`` of the SELECT
    expressions (``_apply_postagg``)."""
    if q.agg_prebinds:
        # aggregate expression arguments (SUM(?a * ?b)): one
        # per-solution Extend just before grouping, §18.4
        result = _apply_binds(result, store, q.agg_prebinds, _nullable_vars(q))
    gvars = [v[1:] for v in q.group_by]
    label_vars = sorted({
        a.var[1:] for a in q.aggregates
        if a.func in ("GROUP_CONCAT", "SAMPLE") and a.var
    })
    if label_vars:
        result = _attach_labels(result, store, label_vars)
    aggs = [_agg_expr(a) for a in q.aggregates]
    # dictionary-absent group keys (BIND/VALUES-produced terms) render
    # from their vlex sidecar — carry it through the groupBy (the
    # struct id is the hash OF the lexical, so first() is exact)
    aggs += [
        F.first(F.col(f"__{gv}_vlex")).alias(f"__{gv}_vlex")
        for gv in gvars
        if f"__{gv}_vlex" in result.columns
    ]
    # aggregate-free GROUP BY (still a Group+Project per §18.2.4, one
    # row per key): groupBy().agg() needs one expression — a throwaway
    # cardinality dropped right after
    card = not aggs
    aggs = aggs or [F.count(F.lit(1)).alias("__gb_card")]
    grouped = result.groupBy(*gvars).agg(*aggs) if gvars else result.agg(*aggs)
    if card:
        grouped = grouped.drop("__gb_card")
    if q.having:
        grouped = _having_filter(grouped, store, q.having, q.aggregates, gvars)
    if not q.postagg_binds:
        return grouped, [], []
    return _apply_postagg(grouped, store, q.postagg_binds, q.aggregates, gvars)


def _subquery_out_names(sub: Query) -> list[str]:
    """Projected column names (no '?') of a subquery."""
    if sub.variables:
        return [v[1:] for v in sub.variables]
    if sub.aggregates:
        # legacy Query-object API (no explicit projection): group keys
        # + visible aggregate aliases; hidden SELECT-expression
        # aggregates (__hagg*) are internal
        return [v[1:] for v in sub.group_by] + [
            a.alias[1:] for a in sub.aggregates
            if not a.alias.startswith("?__")
        ]
    # SELECT *: every visible variable of the group, in sorted order
    # for determinism; __bn_* blank-node vars are non-projectable
    # (SPARQL 1.1 §4.1.4), __ord_e* hidden ORDER BY binds internal
    names = {n for n in _query_scope_vars(sub) if not n.startswith("__")}
    if not names:
        raise SparqlSyntaxError("SELECT * subquery binds no variables")
    return sorted(names)


def _execute_subquery(store, sub: Query) -> DataFrame:
    """Nested { SELECT … }: evaluated bottom-up, entirely in ID SPACE
    (binding-struct columns), so the enclosing group joins it like any
    other pattern source — no premature materialization. Aggregate
    outputs become kind-2 numeric structs (they render via the numeric
    fallback, e.g. COUNT → \"3.0\").

    Surface: the full GroupGraphPattern algebra in the WHERE body
    (``_group_bindings``), [DISTINCT], aggregates (incl.
    label-space GROUP_CONCAT/SAMPLE → kind-1 structs with a lexical
    sidecar) with GROUP BY/HAVING, and ORDER BY … LIMIT/OFFSET top-k
    slices. Sort keys are type-aware (round 4): an aggregate alias
    sorts on its raw scalar; a pattern/group var sorts on the SPARQL
    total order — unbound < IRIs < literals, numerics by value,
    lexical tie-break on the label (one id2term join per order var).
    Catalyst lowers the sort+limit to ``TakeOrderedAndProject`` — a
    per-partition top-k plus a driver merge of k-row heads, no full
    sort at any scale.
    """
    if sub.order_by and sub.limit is None and sub.offset is None:
        # ORDER without a slice is algebraically unobservable through
        # the enclosing join — reject rather than silently ignore
        raise SparqlSyntaxError(
            "ORDER BY inside a subquery requires LIMIT/OFFSET"
        )

    res = _group_bindings(store, sub, sub.distinct and not sub.aggregates)
    pa_scalars: list = []
    if sub.aggregates or sub.group_by:
        res, pa_scalars, _ = _aggregate(res, store, sub)
    if sub.order_by:
        agg_aliases = {a.alias[1:] for a in sub.aggregates} | set(pa_scalars)
        lbl_vars = sorted({
            v[1:] for v, _ in sub.order_by if v[1:] not in agg_aliases
        })
        # type-aware SPARQL total order for binding-struct keys
        # (round 4 — previously numeric-only): unbound < IRIs <
        # literals; numerics by value, string literals after/before
        # them; lexical tie-break on the label — one id2term join per
        # order var, bounded by the subquery's own cardinality (the
        # same plumbing GROUP_CONCAT uses). Aggregate aliases are raw
        # scalars and sort natively.
        if lbl_vars:
            res = _attach_labels(res, store, lbl_vars)
        keys = []
        for v, asc in sub.order_by:
            name = v[1:]
            if name in agg_aliases:
                keys.append(F.col(name).asc() if asc else F.col(name).desc())
                continue
            b = F.col(name)
            rank = (
                F.when(b.isNull(), F.lit(-1))
                .when(b.getField("kind") == 0, F.lit(0))
                .otherwise(F.lit(1))
            )
            num = b.getField("num")
            lbl = F.col(f"__{name}_lbl")
            keys += [
                rank.asc() if asc else rank.desc(),
                num.asc_nulls_last() if asc else num.desc_nulls_first(),
                lbl.asc() if asc else lbl.desc(),
            ]
        res = res.orderBy(*keys)
        if lbl_vars:
            res = res.drop(*[f"__{v}_lbl" for v in lbl_vars])
    if sub.offset:
        res = res.offset(sub.offset)
    if sub.limit is not None:
        res = res.limit(sub.limit)
    # postagg SELECT-expression targets are scalars too — id-space
    # conversion below treats a string one (a GROUP_CONCAT copy) as a
    # label, a numeric one exactly like a numeric aggregate
    # aggregate / SELECT-expression scalars become terms again: a
    # string → kind-1 plain literal with the in-plan hash id + lexical
    # sidecar (the shape of BIND strings), a number → kind-2
    scalar_names = {a.alias[1:] for a in sub.aggregates} | set(pa_scalars)
    str_cols = {
        f.name for f in res.schema.fields
        if f.dataType.typeName() == "string"
    }
    cols, side = [], []
    for n in _subquery_out_names(sub):
        if n not in scalar_names:
            cols.append(F.col(n))
            if f"__{n}_vlex" in res.columns:
                side.append(F.col(f"__{n}_vlex"))
        elif n in str_cols:
            cols.append(_kterm(1, F.col(n)).alias(n))
            side.append(F.col(n).alias(f"__{n}_vlex"))
        else:
            cols.append(_binding_struct(
                F.lit(2), F.lit(None), F.col(n).cast("double")).alias(n))
    res = res.select(*cols, *side)
    if sub.distinct and not sub.aggregates:
        res = res.dropDuplicates()
    return res


def _reject_template_paths(patterns: list) -> None:
    """A CONSTRUCT template is a set of TRIPLES: a property-path
    predicate would otherwise render as its repr — fabricated
    triples."""
    for p in patterns:
        if isinstance(p.p, Path):
            raise SparqlSyntaxError(
                "property paths are not allowed in a CONSTRUCT template"
            )


def _nullable(e) -> set:
    """Which variables a group element can leave UNBOUND: BIND's
    error→unbound rule, OPTIONAL misses, VALUES UNDEF cells, SERVICE
    cells, union branches of differing scope, or a nested group or
    subquery projecting such a var. Joins keyed on one of these need
    SPARQL compatibility semantics (``_join``) instead of plain
    column equality; the rest keep the hash fast path."""
    if isinstance(e, BindAssign):
        return {e.var}
    if isinstance(e, LeftJoin):
        return _query_scope_vars(e.group)
    if isinstance(e, ValuesBlock):
        return {v for i, v in enumerate(e.vars)
                if any(r[i] is UNDEF for r in e.rows)}
    if isinstance(e, ServiceBlock):
        return set(e.vars_hint)
    if isinstance(e, Union):
        scopes = [_query_scope_vars(br) for br in e.branches]
        # a var missing from some branch is NULL in its rows
        out = set().union(*scopes) - set.intersection(*scopes)
        return out.union(*(_nullable_vars(br) for br in e.branches))
    if isinstance(e, Query):
        return _nullable_vars(e) & set(_subquery_out_names(e))
    return set()


def _nullable_vars(q: Query) -> set:
    """The vars a group can leave unbound (``_nullable``)."""
    return set().union(*(_nullable(e) for e in q.where))


#: the binding-struct type of an unbound variable
_UNBOUND = "struct<kind:tinyint,id:bigint,num:double>"


def _apply_scoped(store, df: DataFrame, filters: list, scope) -> DataFrame:
    """Apply FILTERs over a frame that may lack some of their vars. A
    missing var in ``scope`` (None: any var) is unbound — a NULL
    binding struct while the filters run, so SQL three-valued logic
    gives SPARQL's error semantics (a comparison drops the row,
    ``!BOUND`` holds). A missing var outside ``scope`` raises."""
    if not filters:
        return df
    missing = sorted(set().union(*(f.vars() for f in filters)) - set(df.columns))
    stray = [v for v in missing if scope is not None and v not in scope]
    if stray:
        raise ValueError(
            f"FILTER references variables never bound by the pattern: {stray}"
        )
    if missing:
        df = df.select("*", *[F.lit(None).cast(_UNBOUND).alias(v) for v in missing])
    return _apply_filters(store, df, filters).drop(*missing)


def _shared(result: DataFrame, step: DataFrame) -> list:
    """The vars two solution frames share (lexical sidecars excluded)."""
    return [
        c for c in step.columns
        if c in result.columns and not (c.startswith("__") and c.endswith("_vlex"))
    ]


#: the Spark join type of each ``_join`` operator
_SPARK_HOW = {"inner": "inner", "left": "left", "exists": "left_semi",
              "not_exists": "left_anti", "minus": "left_anti"}


def _join(
    result: DataFrame | None, step: DataFrame, how: str, nullable: set
) -> DataFrame:
    """SPARQL 1.1 §18.5 Join ("inner"), LeftJoin ("left"), Minus
    ("minus") and [NOT] EXISTS ("exists", "not_exists") of two solution
    frames under §8.3 compatibility: solutions are compatible when
    every var bound on both sides agrees, and a merged solution takes
    the bound side of each var and of its ``__{v}_vlex`` sidecar. MINUS
    also needs a shared var bound on both sides. ``nullable``: the vars
    either side may leave unbound. ``None`` is the unit solution, which
    an inner join leaves as ``step``.

    With no shared var this is a cross join, a left join on true,
    ``result`` (MINUS) or an emptiness test (EXISTS). With no nullable
    shared var and no sidecar on both sides, compatibility is equality:
    one equi join. Otherwise both sides split on key completeness:
    bound × bound — almost all rows — is still an equi join, and only
    the null-key slices take the §8.3 condition, so the nested-loop
    legs see slices, never the full inputs. The legs partition
    ``result`` × ``step`` (semi and anti legs: ``result``), so bag
    multiplicities hold."""
    if result is None:
        return step
    shared = _shared(result, step)
    x = _SPARK_HOW[how]
    if not shared:
        if how == "inner":
            return result.crossJoin(step)
        if how == "left":
            return result.join(step, F.lit(True), "left")
        if how == "minus":
            return result
        return result if (how == "exists") != step.isEmpty() else result.limit(0)
    semi = x in ("left_semi", "left_anti")
    sidecars = any(c in result.columns for c in step.columns if c not in shared)
    if not set(shared) & nullable and (semi or not sidecars):
        return result.join(step, on=shared, how=x)
    if semi:  # a semi/anti join reads only the step's distinct keys
        step = step.select(*shared).dropDuplicates()
    null = _reduce(lambda a, b: a | b, (F.col(v).isNull() for v in shared))
    r_b, r_n = result.filter(~null), result.filter(null)
    s_b, s_n = step.filter(~null), step.filter(null)

    def leg(left: DataFrame, right: DataFrame, h: str, equi=False) -> DataFrame:
        return _compat_leg(left, right, shared, h, equi, how == "minus")

    legs = [leg(r_n, step, x)]
    if how in ("inner", "left"):
        legs += [leg(r_b, s_b, "inner", True), leg(r_b, s_n, "inner")]
    elif how == "exists":
        legs.append(leg(r_b, s_b, "left_semi", True))
    if how != "inner":
        # bound rows with no equal partner meet the step's null slice
        # once: the semi leg keeps the legs disjoint, and anti/left keep
        # what is left unmatched (LeftJoin's residual, null-extended)
        rest = leg(r_b, s_b, "left_anti", True)
        legs.append(leg(rest, s_n, "left_semi" if how == "exists" else "left_anti"))
    return _reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), legs)


def _compat_leg(
    result: DataFrame, step: DataFrame, shared: list, how: str,
    equi: bool, overlap: bool,
) -> DataFrame:
    """One leg of ``_join``: a Spark ``how`` join on the shared vars by
    plain equality (``equi``: Catalyst takes them as hash keys) or by
    the §8.3 condition, where an unbound side matches anything; with
    ``overlap`` (MINUS) some shared var must be bound on both sides. An
    inner or left leg merges each column both sides carry — a var or
    its sidecar — into its bound side."""
    both = [c for c in step.columns if c in result.columns]
    step = step.select(
        *[F.col(c).alias(f"__mj_{c}") if c in both else c for c in step.columns]
    )
    pairs = [(F.col(v), F.col(f"__mj_{v}")) for v in shared]
    cond = _reduce(lambda a, b: a & b, (
        (l == r) if equi else (l.isNull() | r.isNull() | (l == r))
        for l, r in pairs
    ))
    if overlap and not equi:
        cond = cond & _reduce(
            lambda a, b: a | b, (l.isNotNull() & r.isNotNull() for l, r in pairs)
        )
    out = result.join(step, cond, how)
    if how in ("left_semi", "left_anti"):
        return out
    return out.withColumns(
        {c: F.coalesce(F.col(c), F.col(f"__mj_{c}")) for c in both}
    ).drop(*[f"__mj_{c}" for c in both])


def _tagged(df: DataFrame) -> DataFrame:
    """``df`` with a ``__lj_{c}`` copy of each column: the image of the
    row before a compatibility merge fills its NULL vars."""
    return df.select("*", *[F.col(c).alias(f"__lj_{c}") for c in df.columns])


def _probe(result: DataFrame, hits: DataFrame, cols: list, how: str) -> DataFrame:
    """Join ``result`` with ``hits`` — distinct ``__lj_{c}`` images of
    its ``cols`` — null-safely on every column, and drop the images."""
    cond = _reduce(
        lambda a, b: a & b, (F.col(c).eqNullSafe(F.col(f"__lj_{c}")) for c in cols)
    )
    return result.join(hits, cond, how).drop(*[f"__lj_{c}" for c in cols])


def _nested_step(store, blk: Query, dedup: bool) -> tuple[DataFrame, list]:
    """Solutions of a nested OPTIONAL / MINUS / EXISTS group, with its
    top-level FILTERs that read variables the group cannot bind split
    off first. Returns ``(solutions, split filters)``: OPTIONAL and
    EXISTS evaluate those filters on the merged solutions of the join,
    MINUS with the outer variables unbound (no substitution)."""
    inner = _query_scope_vars(blk)
    split = [f for f in blk.filters if not f.vars() <= inner]
    if split:
        blk = _dc_replace(blk, filters=[f for f in blk.filters if f.vars() <= inner])
    return _group_bindings(store, blk, dedup), split


def _bound_somewhere(filters: list, result: DataFrame, step: DataFrame) -> None:
    """A split-off filter of a nested group must read only vars the
    outer solutions or the group bind."""
    missing = set().union(*(f.vars() for f in filters)) - set(
        result.columns) - set(step.columns)
    if missing:
        raise SparqlSyntaxError(
            f"FILTER references variables bound nowhere: {sorted(missing)}"
        )


def _group_bindings(
    store, q: Query, dedup: bool, nested: bool = False
) -> DataFrame:
    """Id-space solutions of one GroupGraphPattern — the one group
    evaluator, for the WHERE clause and every nested group (OPTIONAL
    body, UNION branch, MINUS and EXISTS body, subquery body). Solution
    modifiers and materialization come after, in ``execute`` /
    ``_execute_subquery``.

    A left-to-right fold over ``q.where`` — the SPARQL 1.1 §18.2.2
    translation: adjacent triple patterns are one BGP run by
    ``execute_bgp`` (which picks the join order); OPTIONAL is a
    LeftJoin over the solutions before it, MINUS a Minus, BIND an
    Extend, and everything else (VALUES, SERVICE, subqueries, nested
    groups and UNIONs) a Join; the group's FILTERs apply to the whole
    group. One rewrite: a FILTER whose variables a BGP of the group
    certainly binds runs inside that BGP, so Catalyst pushes it into
    the scans.

    A FILTER or BIND variable the group does not bind is unbound in
    it. In a ``nested`` group (a braced group or UNION branch) that is
    all; elsewhere it raises, as a variable no pattern of the group
    can bind is a mistake in the query."""
    scope = None if nested else _query_scope_vars(q)
    pending = [f for f in q.filters if not exists_leaves(f.ast)]
    result: DataFrame | None = None  # None: the unit solution
    nullable: set = set()
    for kind, run in itertools.groupby(q.where, type):
        run = list(run)
        if kind is Bgp:
            pv = pattern_vars(run)
            now = [f for f in pending if f.vars() <= pv]
            pending = [f for f in pending if not f.vars() <= pv]
            step = execute_bgp(store, run, now, dedup)
            result = _join(result, step, "inner", nullable)
        elif kind is BindAssign:
            result = _extend(store, _unit(store, result), run, nullable, scope)
            nullable |= {b.var for b in run}
        else:
            for e in run:
                result = _fold_step(store, q, result, e, nullable, dedup)
                nullable |= _nullable(e)
    result = _apply_scoped(store, _unit(store, result), pending, scope)
    for f in q.filters:
        if exists_leaves(f.ast):
            result = _exists_filter(store, result, f, nullable, scope)
    return result


def _unit(store, result: DataFrame | None) -> DataFrame:
    """The solutions so far, with ``None`` as the unit solution — one
    row, no columns."""
    return store.spark.range(1).drop("id") if result is None else result


def _fold_step(
    store, q: Query, result: DataFrame | None, e, nullable: set, dedup: bool
) -> DataFrame:
    """One non-BGP, non-BIND element of ``_group_bindings``' fold."""
    if isinstance(e, LeftJoin):
        result = _unit(store, result)
        step, cond = _nested_step(store, e.group, dedup)
        step_null = nullable | _nullable_vars(e.group)
        if not cond:
            return _join(result, step, "left", step_null)
        _bound_somewhere(cond, result, step)
        return _conditional_left_join(store, result, step, cond, step_null)
    if isinstance(e, Minus):
        # MINUS evaluates its group WITHOUT substitution, so a block
        # filter var bound only outside the block is UNBOUND inside it
        result = _unit(store, result)
        step, cond = _nested_step(store, e.group, True)
        step = _apply_scoped(store, step, cond, None)
        return _join(result, step, "minus", nullable | _nullable_vars(e.group))
    if isinstance(e, (ValuesBlock, ServiceBlock)):
        # SERVICE results join like VALUES: the remote solution
        # sequence IS a values table (capped by the endpoint, fetched
        # once on the driver)
        vb = e if isinstance(e, ValuesBlock) else _service_values_block(
            e, [v for v in q.where if isinstance(v, ValuesBlock)]
        )
        if vb is None:  # a SILENT failure is the unit solution
            return result
        return _join(result, _values_df(store, vb), "inner", nullable | _nullable(vb))
    if isinstance(e, Union):
        step = _reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [_group_bindings(store, br, dedup, nested=True)
             for br in e.branches],
        )
    else:  # a subquery
        step = _execute_subquery(store, e)
    return _join(result, step, "inner", nullable | _nullable(e))


def _conditional_left_join(
    store, result: DataFrame, step: DataFrame, filters: list, nullable: set
) -> DataFrame:
    """§8.2 ``LeftJoin(Ω1, Ω2, expr)`` where a FILTER inside OPTIONAL
    reads vars bound outside it: ``expr`` is part of the left-join
    CONDITION (filtering before the join can't see the outer binding;
    filtering after would drop the null-extension the spec keeps). It
    filters the merged solutions of the Join, and each Ω1 row that no
    survivor extends surfaces once, null-extended: a null-safe
    whole-row anti join against the survivors' pre-merge images. The
    reference gets this from stock ARQ's OpLeftJoin expression
    (HBaseTransformFilterPlacement.java:359-369)."""
    tags = [f"__lj_{c}" for c in result.columns]
    merged = _apply_filters(
        store, _join(_tagged(result), step, "inner", nullable), filters
    )
    unmatched = _probe(result, merged.select(*tags).dropDuplicates(),
                       result.columns, "left_anti")
    return merged.drop(*tags).unionByName(unmatched, allowMissingColumns=True)


def _extend(
    store, result: DataFrame, binds: list, nullable: set, scope: set | None,
) -> DataFrame:
    """A run of adjacent BINDs: Extends, applied as one batch. A var
    outside ``scope`` (None: any var) raises."""
    reads = set().union(*(expr_vars(b.expr) for b in binds))
    missing = sorted(reads - scope) if scope is not None else []
    if missing:
        raise SparqlSyntaxError(
            "BIND expression uses out-of-scope variable(s) "
            + ", ".join(f"?{v}" for v in missing)
        )
    return _apply_binds(result, store, binds, nullable)


def _exists_filter(
    store, result: DataFrame, f, nullable: set, scope: set | None
) -> DataFrame:
    """A FILTER with EXISTS{…} leaves. A bare ``FILTER [NOT] EXISTS``
    is a semi/anti join (``_exists_join``); any other expression reads
    a marker column per leaf."""
    a = f.ast
    bare = a if a[0] == "exists" else a[1] if a[0] == "not" else None
    if bare is not None and bare[0] == "exists":
        how = "left_semi" if bare is a else "left_anti"
        return _exists_join(store, result, bare[1], nullable, how)
    leaves = exists_leaves(a)
    for ex in leaves:
        result = _exists_join(store, result, ex, nullable, "left")
    result = _apply_scoped(store, result, [f], scope)
    return result.drop(*[ex.marker for ex in leaves])


def _exists_join(
    store, result: DataFrame, ex: ExistsExpr, nullable: set, how: str
) -> DataFrame:
    """EXISTS ``ex`` over ``result``: a solution of the block is
    compatible with the row and satisfies the block's filters over
    outer vars on the merged solution (SPARQL 1.1 §8.1.1 substitution).
    ``how``: "left_semi" keeps the rows it holds for, "left_anti" the
    others, and "left" extends every row with ``ex.marker`` (true, else
    NULL).

    With no such filter, a semi/anti join is ``_join``'s. Otherwise the
    block joins the DISTINCT outer key set (shared vars plus the outer
    vars the filters read — typically tiny relative to the solution
    multiset), and the matched keys join back null-safely. The
    back-join is key-unique by construction, so rows never multiply."""
    step, correlated = _nested_step(store, ex.block, True)
    step_null = nullable | _nullable_vars(ex.block)
    if not correlated and how != "left":
        return _join(result, step, "exists" if how == "left_semi" else "not_exists",
                     step_null)
    _bound_somewhere(correlated, result, step)
    outer_corr = set().union(*(f.vars() for f in correlated)) & set(result.columns)
    need = sorted(set(_shared(result, step)) | outer_corr)
    if not need:  # uncorrelated: global emptiness test
        return result.withColumn(ex.marker, F.lit(not step.isEmpty()))
    # correlated keys keep their vars' lexical sidecars for label-space
    # filters; the hits are then distinct on the vars alone
    side = [f"__{v}_vlex" for v in need
            if correlated and f"__{v}_vlex" in result.columns]
    keys = _tagged(result.select(*need, *side).dropDuplicates())
    tags = [f"__lj_{v}" for v in need]
    if correlated:
        hits = _apply_filters(
            store, _join(keys, step, "inner", step_null), correlated
        ).select(*tags).dropDuplicates()
    else:
        hits = _join(keys, step, "exists", step_null).select(*tags)
    if how == "left":
        hits = hits.withColumn(ex.marker, F.lit(True))
    return _probe(result, hits, need, how)


def _apply_post_values(out: DataFrame, vb: ValuesBlock) -> DataFrame:
    """Join a trailing VALUES table onto the PROJECTED solution frame
    (§18.2.4: the ValuesClause joins after grouping) — the path for
    vars the in-group compatibility join can't reach: aggregate
    aliases, BIND outputs, non-group-key vars.

    The frame here is rendered (lexical strings / scalar aggregate
    columns), so each VALUES cell carries a value-space channel: a
    numeric cell compares under double cast (COUNT bigint, AVG double
    and rendered numeric lexicals all coerce), everything else under
    string equality on the rendered form. UNDEF and solution-side
    NULLs match anything (§8.3 compatibility). New vars extend every
    compatible solution with the cell's rendered lexical, and an unbound
    solution var adopts the cell's binding (§8.3: the merge keeps the
    bound side). Integral numeric cells render as integer lexicals
    (``5``), the way the VALUES clause wrote them."""
    spark = out.sparkSession
    rows = []
    for r in vb.rows:
        flat: list = []
        for cell in r:
            if cell is UNDEF:
                flat += [None, None]
            elif isinstance(cell, bool):
                flat += [float(cell), None]
            elif isinstance(cell, (int, float)):
                flat += [float(cell), None]
            elif isinstance(cell, tuple):
                flat += [None, str(cell[0])]
            else:
                flat += [None, str(cell)]
        rows.append(flat)
    vdf = _inline_table(spark, rows, [
        (f"__pv_{v}_{c}", t) for v in vb.vars
        for c, t in (("num", "double"), ("str", "string"))
    ])
    shared = [v for v in vb.vars if v in out.columns]
    new = [v for v in vb.vars if v not in out.columns]
    cond = F.lit(True)
    for v in shared:
        num, s = F.col(f"__pv_{v}_num"), F.col(f"__pv_{v}_str")
        c = F.col(v)
        cmp_ = (
            F.when(num.isNotNull(), c.cast("double").eqNullSafe(num)
                   & c.cast("double").isNotNull())
            .when(s.isNotNull(), c.cast("string") == s)
            .otherwise(F.lit(True))  # UNDEF cell matches anything
        )
        cond = cond & (c.isNull() | cmp_)
    out = out.join(F.broadcast(vdf), cond, "inner")
    types = dict(out.dtypes)

    def cell(v):
        num, s = F.col(f"__pv_{v}_num"), F.col(f"__pv_{v}_str")
        if types.get(v, "string") != "string":  # a numeric scalar column
            return num.cast(types[v])
        integral = (num == F.floor(num)) & (F.abs(num) < 1e15)
        return F.coalesce(
            F.when(integral, num.cast("long").cast("string"))
            .otherwise(num.cast("string")),
            s,
        )

    out = out.select(
        *[F.coalesce(F.col(c), cell(c)).alias(c) if c in shared else c
          for c in out.columns],
        *[cell(v).alias(v) for v in new],
    )
    return out.drop(
        *[f"__pv_{v}_{s}" for v in vb.vars for s in ("num", "str")]
    )


def execute(
    store, query: str | Query, with_kinds: bool = False
) -> DataFrame:
    """SPARQL text → materialized DataFrame (one string column per var).

    ``with_kinds`` (service layer): emit a hidden ``__k_{var}`` tinyint
    column per projected SELECT variable carrying the binding's term
    kind, so results-JSON typing is exact rather than string-sniffed.
    """
    q = parse(query) if isinstance(query, str) else query

    if q.form == "describe" and not q.where and not q.filters:
        return _describe(store, q, None, with_kinds=with_kinds)

    # set-semantics evaluation is sound exactly when only the solution
    # SET can be observed: SELECT DISTINCT / ASK without aggregates
    # (aggregates count multiplicities — must keep bags)
    dedup = (q.distinct or q.form == "ask") and not q.aggregates
    result = _group_bindings(store, q, dedup)

    if q.form == "ask":
        n = result.limit(1).count()
        return store.spark.createDataFrame([(n > 0,)], "ask boolean")
    if q.form == "describe":
        return _describe(store, q, result, with_kinds=with_kinds)
    if q.form == "construct":
        return _construct(store, q, result, with_kinds=with_kinds)

    def _projectable(cols):
        # blank-node vars (__bn_*) and internal sidecar columns
        # (__*_vlex) are never projectable
        return [c for c in cols if not c.startswith("__")]

    if q.aggregates or q.group_by:
        gvars = [v[1:] for v in q.group_by]
        grouped, pa_scalars, pa_terms = _aggregate(result, store, q)
        grouped, ordered_vars = _add_order_sidecars(grouped, q.order_by)
        # materialize group vars; aggregate columns pass through verbatim
        out = materialize(
            grouped, store,
            # hidden __gk* expression keys group but never render
            [f"?{g}" for g in gvars if not g.startswith("__")]
            + [f"?{t}" for t in pa_terms],
            keep=[a.alias[1:] for a in q.aggregates] + pa_scalars
            + sorted(
                f"__ord_{n}_{s}" for n in ordered_vars for s in ("k", "n")
            ),
            with_kinds=with_kinds,
        )
        projected = [
            v[1:] for v in (
                q.variables or [f"?{c}" for c in _projectable(out.columns)]
            )
        ]
        pv_vars = {v for vb in q.post_values for v in vb.vars}
        out = out.select(
            # a post-VALUES-only var isn't a column yet — the
            # post-projection join below introduces it
            *[v for v in projected if v not in pv_vars or v in out.columns],
            *[c for c in out.columns if c.startswith("__ord_")],
            *[
                c for c in out.columns
                if c.startswith("__k_") and c[4:] in projected
            ],
        )
    else:
        pv_vars = {v for vb in q.post_values for v in vb.vars}
        variables = q.variables or [
            f"?{c}" for c in _projectable(result.columns)
        ]
        variables = [
            v for v in variables
            if v[1:] not in pv_vars or v[1:] in result.columns
        ]
        # hidden ORDER BY expression binds materialize alongside the
        # projection (their __ord_e* columns are dropped post-sort)
        variables = variables + [f"?{n}" for n in q.order_hidden]
        if q.distinct:
            # dedupe in ID SPACE before materialization: DISTINCT applies
            # to the projected solution, and shrinking the binding set
            # first makes the per-var id2term joins proportional to the
            # distinct count, not the raw join fan-out. The post-
            # materialize dropDuplicates below still runs — two ids of
            # different kinds can render to the same lexical string.
            names = [v[1:] if v.startswith("?") else v for v in variables]
            keep_cols = names + [
                c for c in result.columns
                if c.startswith("__") and c.endswith("_vlex")
                and c[2:-5] in names
            ]
            result = result.select(*keep_cols).dropDuplicates()
        result, ordered_vars = _add_order_sidecars(result, q.order_by)
        out = materialize(
            result, store, variables,
            keep=sorted(
                f"__ord_{n}_{s}" for n in ordered_vars for s in ("k", "n")
            ),
            with_kinds=with_kinds,
        )
    for vb in q.post_values:
        out = _apply_post_values(out, vb)
    if q.post_values and q.variables:
        # projection order restored; VALUES vars the SELECT doesn't
        # project are dropped (only internal sidecars pass through)
        want = [v[1:] for v in q.variables]
        out = out.select(
            *[c for c in want if c in out.columns],
            *[c for c in out.columns if c not in want and c.startswith("__")],
        )
    if q.distinct:
        # __k_ sidecars are excluded from the DISTINCT key: two ids of
        # different kinds rendering to one lexical string stay one
        # solution (an arbitrary kind survives — JSON typing only)
        out = out.dropDuplicates(
            [c for c in out.columns
             if not c.startswith("__ord_") and not c.startswith("__k_")]
        )
    if q.order_by:
        # type-aware keys where the sidecars exist (pattern vars);
        # aggregate aliases are raw numeric scalars and sort natively
        keys = []
        for v, asc in q.order_by:
            name = v[1:]
            if f"__ord_{name}_k" in out.columns:
                num = F.col(f"__ord_{name}_n")
                # §15.1 rank: unbound(-1) < blank nodes(-0.5) <
                # IRIs(0) < literals(1). Blank nodes are recognized by
                # the rendered `_:` prefix (an IRI can never render
                # so), refining the id-space kind rank at sort time.
                k = F.col(f"__ord_{name}_k").cast("double")
                k = F.when(
                    (k == 0) & F.col(name).startswith("_:"), F.lit(-0.5)
                ).otherwise(k)
                keys += [
                    k.asc() if asc else k.desc(),
                    # numerics by value; string literals (NULL num)
                    # after them ascending, before them descending
                    num.asc_nulls_last() if asc else num.desc_nulls_first(),
                    F.col(name).asc() if asc else F.col(name).desc(),
                ]
            else:
                keys.append(F.col(name).asc() if asc else F.col(name).desc())
        out = out.orderBy(*keys)
    out = out.drop(*[c for c in out.columns if c.startswith("__ord_")])
    if q.offset:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out
