"""SPARQL expressions: one grammar, one AST, one compiler.

The reference evaluates FILTER, BIND, HAVING and ORDER BY through one
ARQ expression tree (SURVEY J12; sail/HBaseQueryVisitor.java:289-313).
This module is the same shape here:

- **Grammar** (``ExprGrammar``, mixed into the query parser): one
  recursive-descent parser for SPARQL 1.1 rules [110]-[121]
  (ConditionalOr → ConditionalAnd → Relational incl. ``[NOT] IN`` →
  Additive → Multiplicative → Unary → Primary). Every expression site
  calls it: FILTER, BIND, ``(expr AS ?v)``, GROUP BY keys, HAVING,
  ORDER BY keys, IF conditions and aggregate arguments.
- **AST**: plain tuples ``(tag, *children)``. Leaves: ``('var',
  '?x')``, ``('num', 3.0)``, ``('const', term)`` (an IRI string or a
  ``(lexical, kind)`` literal). Operators: ``('arith', op, a, b)``,
  ``('cmp', op, a, b)``, ``('and', *xs)``, ``('or', *xs)``, ``('not',
  x)``, ``('in' | 'notin', x, *items)``, ``('exists', ExistsExpr)``,
  ``('cast', xsd_local, x)``. Builtins: the lower-cased function name
  with its arguments inline (``('concat', a, b)``, ``('substr', s,
  start)``); ``('bnode', salt[, x])`` and ``('now', lexical)`` carry a
  parse-time payload.
- **Compiler** (``compile_expr``): one function, AST → Spark Column in
  the channel the caller asks for — ``num`` (double), ``str`` (the
  STR() form), ``bool`` (effective boolean value) or ``term`` (a
  binding struct plus its lexical sidecar). NULL is the SPARQL error
  channel throughout: an unbound variable or a type error yields NULL,
  a NULL FILTER drops the row, a NULL BIND leaves the var unbound. A
  ``Cx`` scope decides what a variable leaf reads: its binding struct
  (and label column) before aggregation, or the scalar column after.
- **FILTER** (``Expr``): one node per top-level ``&&`` conjunct, with
  the ``vars()/label_vars()/cond()`` protocol ``execute_bgp`` places
  filters by.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, functions as F

from hbase_rdf_spark.plans.bgp import _binding_struct
from hbase_rdf_spark.plans.filters import (
    DT_TYPED_RX,
    dt_instant,
    dt_part,
    str_value,
    timezone_duration,
    tz_part,
)


class SparqlSyntaxError(ValueError):
    pass


#: a whole signed numeric-literal token ('-1', '-.5', '-2e3'): the
#: tokenizer folds the sign in, so the additive loop must accept it as a
#: '-'-continuation (grammar [116] special-cases NumericLiteralNegative)
_NEGNUM_RX = re.compile(r"^-(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?$")

AGG_FUNCS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE"}

#: builtin → (result channel, min args, max args; None = variadic)
FNS = {
    **{f: ("str", 1, 1) for f in (
        "str", "ucase", "lcase", "md5", "sha1", "sha256", "sha384",
        "sha512", "encode_for_uri", "lang", "tz",
    )},
    "concat": ("str", 1, None), "substr": ("str", 2, 3),
    "replace": ("str", 3, 4), "strbefore": ("str", 2, 2),
    "strafter": ("str", 2, 2), "struuid": ("str", 0, 0),
    **{f: ("num", 1, 1) for f in (
        "strlen", "abs", "ceil", "floor", "round",
        "year", "month", "day", "hours", "minutes", "seconds",
    )},
    "rand": ("num", 0, 0),
    **{f: ("bool", 1, 1) for f in (
        "bound", "isiri", "isuri", "isblank", "isliteral", "isnumeric",
    )},
    "regex": ("bool", 2, 3), "strstarts": ("bool", 2, 2),
    "strends": ("bool", 2, 2), "contains": ("bool", 2, 2),
    "langmatches": ("bool", 2, 2), "sameterm": ("bool", 2, 2),
    "iri": ("term", 1, 1), "uri": ("term", 1, 1), "bnode": ("term", 0, 1),
    "strdt": ("term", 2, 2), "strlang": ("term", 2, 2),
    "timezone": ("term", 1, 1), "now": ("term", 0, 0),
    "uuid": ("term", 0, 0), "datatype": ("term", 1, 1),
    "coalesce": ("term", 1, None), "if": ("term", 3, 3),
}

#: builtins whose argument must be a variable: they read the stored
#: label / kind tag of a binding, which only a variable has
_VAR_ARG = {"lang", "datatype", "bound", "isiri", "isblank", "isliteral",
            "isnumeric"}
#: (builtin, argument index) pairs that must be string constants
_CONST_STR_ARGS = {"regex": (1, 2), "replace": (1, 2, 3), "strbefore": (1,),
                   "strafter": (1,), "langmatches": (1,), "strlang": (1,)}

_DT_NUM_FNS = ("year", "month", "day", "hours", "minutes", "seconds")
_BOOL_TAGS = ("cmp", "and", "or", "not", "in", "notin", "exists")

#: XSD constructor-cast targets (SPARQL 1.1 §17.5, XPath casting).
#: Numeric + boolean targets produce numerics (booleans inline as
#: 1.0/0.0 exactly like sources/ntriples.py stores them); xsd:string is
#: STR(); xsd:dateTime/date are STRDT(). Integer-family casts truncate
#: numeric sources toward zero and error on non-integer lexicals.
XSD_NS = "http://www.w3.org/2001/XMLSchema#"
_CAST_INT_TYPES = frozenset(
    "integer nonPositiveInteger negativeInteger long int short byte "
    "nonNegativeInteger unsignedLong unsignedInt unsignedShort "
    "unsignedByte positiveInteger".split()
)
_CAST_TYPES = _CAST_INT_TYPES | {
    "double", "float", "decimal", "boolean", "string", "dateTime", "date",
}

CMP = {
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
    "=": lambda a, b: a == b, "!=": lambda a, b: a != b,
}
FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=", "!=": "!="}

_TAGGED_LEX_RX = re.compile(r'^"(.*)"(?:@[A-Za-z0-9-]+|\^\^<[^<>]*>)$', re.S)
_LANG_RX = r'^".*"@([A-Za-z0-9-]+)$'
_DT_RX = r'^".*"\^\^<([^<>]*)>$'
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
# kind-1 lexical of a typed literal with a non-xsd:string datatype —
# outside the §17.2.2 EBV domain (plain / lang-tagged / xsd:string
# literals have string EBV; booleans and numerics inline to kind 2)
_EBV_NONSTR_RX = (
    r'^".*"\^\^<(?!http://www\.w3\.org/2001/XMLSchema#string>)[^<>]*>$'
)


# ---------------------------------------------------------------------------
# AST helpers
# ---------------------------------------------------------------------------


def walk(e):
    """Every node of an AST, pre-order."""
    yield e
    if e[0] != "const":
        for c in e[1:]:
            if isinstance(c, tuple):
                yield from walk(c)


def expr_vars(e) -> set[str]:
    """The variables (no '?') an expression reads — the one walker the
    scope checks, the BIND split and ``Expr.vars()`` all use."""
    return {n[1][1:] for n in walk(e) if n[0] == "var"}


def _lit_lex(term) -> str:
    """STR() of a parsed constant: the IRI, or the literal's lexical
    form with its tag/datatype wrapper stripped."""
    if isinstance(term, tuple):
        m = _TAGGED_LEX_RX.match(term[0])
        return m.group(1) if m else term[0]
    return term


def _const_str(e, what: str) -> str:
    if e[0] != "const" or not isinstance(e[1], tuple):
        raise SparqlSyntaxError(f"{what} needs a string constant")
    return _lit_lex(e[1])


def _is_dt_lit(e) -> bool:
    return (e[0] == "const" and isinstance(e[1], tuple)
            and re.search(DT_TYPED_RX, e[1][0]) is not None)


# ---------------------------------------------------------------------------
# grammar
# ---------------------------------------------------------------------------


class ExprGrammar:
    """SPARQL 1.1 grammar rules [110]-[121] over the host parser's
    token cursor (``peek/next/expect/term``). ``_agg_ctx`` (a Query)
    turns aggregate calls into references to hidden aggregates of that
    query; ``_gctx`` (the group stack) lets ``[NOT] EXISTS {…}`` parse
    as a leaf."""

    def _expr(self) -> tuple:
        return self._chain("||", "or", self._and)

    def _and(self) -> tuple:
        return self._chain("&&", "and", self._rel)

    def _chain(self, op: str, tag: str, operand) -> tuple:
        parts = [operand()]
        while self.peek() == op:
            self.next()
            parts.append(operand())
        return parts[0] if len(parts) == 1 else (tag, *parts)

    def _args(self) -> list:
        """``'(' [ expr (',' expr)* ] ')'``"""
        self.expect("(")
        args = []
        while self.peek() != ")":
            args.append(self._expr())
            if self.peek() != ")":
                self.expect(",")
        self.next()
        return args

    def _rel(self) -> tuple:
        lhs = self._additive()
        tok = self.peek()
        if tok in CMP:
            self.next()
            rhs = self._additive()
            for a, b in ((lhs, rhs), (rhs, lhs)):
                if a[0] == "datatype" and b[0] in ("num", "const") and not (
                    b[0] == "const" and isinstance(b[1], str)
                ):
                    raise SparqlSyntaxError(
                        "datatype() comparison needs an IRI"
                    )
            return ("cmp", tok, lhs, rhs)
        up = (tok or "").upper()
        nxt = (self.t[self.i + 1] if self.i + 1 < len(self.t) else "").upper()
        if up == "IN" or (up == "NOT" and nxt == "IN"):
            if up == "NOT":
                self.next()
            self.next()
            return ("notin" if up == "NOT" else "in", lhs, *self._args())
        return lhs

    def _additive(self) -> tuple:
        node = self._mult()
        while True:
            nxt = self.peek()
            if nxt in ("+", "-"):
                self.next()
                node = ("arith", nxt, node, self._mult())
            elif nxt is not None and _NEGNUM_RX.match(nxt):
                # `?a -1` ≡ `?a - 1` (grammar [116])
                self.next()
                node = ("arith", "-", node, ("num", float(nxt[1:])))
            else:
                return node

    def _mult(self) -> tuple:
        node = self._unary()
        while self.peek() in ("*", "/"):
            op = self.next()
            node = ("arith", op, node, self._unary())
        return node

    def _unary(self) -> tuple:
        tok = self.peek()
        if tok == "!":
            self.next()
            return ("not", self._unary())
        if tok == "-":
            self.next()
            return ("arith", "-", ("num", 0.0), self._unary())
        if tok == "+":
            self.next()
            return self._unary()
        return self._primary()

    def _primary(self) -> tuple:
        tok = self.peek()
        if tok == "(":
            self.next()
            e = self._expr()
            self.expect(")")
            return e
        up = (tok or "").upper()
        call = self.t[self.i + 1 : self.i + 2] == ["("]
        gctx = getattr(self, "_gctx", None)
        if up in ("EXISTS", "NOT") and gctx:
            # §17.4.1.4: [NOT] EXISTS {…} as an expression leaf
            got = self._parse_exists_leaf(gctx[-1])
            if got is not None:
                leaf, neg = got
                return ("not", ("exists", leaf)) if neg else ("exists", leaf)
        if call and up in AGG_FUNCS and self._agg_ctx is not None:
            return ("var", self._agg_ref())
        if call and up.lower() in FNS:
            return self._call(up.lower())
        if call and (tok.startswith("<") or (
            ":" in tok and not tok.startswith(('"', "'", "_"))
        )):
            return self._cast_call(tok)
        if tok is not None and tok.startswith("'"):
            self.next()
            body = tok[1:-1].replace("\\'", "'").replace("\\\\", "\\")
            return ("const", (body, 1))
        t = self.term()
        if isinstance(t, str) and t.startswith("?"):
            return ("var", t)
        if isinstance(t, float):
            return ("num", t)
        return ("const", t)

    def _agg_ref(self) -> str:
        """An aggregate call inside a SELECT / HAVING / ORDER BY
        expression: a hidden aggregate of the query (an identical one is
        reused), referenced by alias — the enclosing expression then
        evaluates over the aggregated frame. The sink is cleared while
        the argument parses: nested aggregates are invalid."""
        ctx, self._agg_ctx = self._agg_ctx, None
        try:
            agg = self._parse_aggregate(ctx)
        finally:
            self._agg_ctx = ctx
        key = (agg.func, agg.var, agg.distinct, agg.separator)
        for a in ctx.aggregates:
            if (a.func, a.var, a.distinct, a.separator) == key:
                return a.alias
        agg.alias = f"?__hagg{len(ctx.aggregates)}"
        ctx.aggregates.append(agg)
        return agg.alias

    def _call(self, name: str) -> tuple:
        self.next()
        salt = None
        if name == "bnode":
            # the no-arg form mints a node distinct per call site
            salt = self._bnfn_counter
            self._bnfn_counter += 1
        args = self._args()
        _typ, lo, hi = FNS[name]
        if len(args) < lo or (hi is not None and len(args) > hi):
            raise SparqlSyntaxError(
                f"{name.upper()}() takes {lo}"
                + ("" if hi == lo else f"..{hi if hi is not None else 'n'}")
                + f" argument(s), got {len(args)}"
            )
        name = {"isuri": "isiri", "uri": "iri"}.get(name, name)
        if name in _VAR_ARG and args[0][0] != "var":
            raise SparqlSyntaxError(f"{name}() takes a variable")
        for i in _CONST_STR_ARGS.get(name, ()):
            if i < len(args):
                _const_str(args[i], f"{name.upper()}() argument {i + 1}")
        if name == "strdt" and not (
            args[1][0] == "const" and isinstance(args[1][1], str)
        ):
            raise SparqlSyntaxError("STRDT needs a constant datatype IRI")
        if name == "now":
            # one instant per query parse — every NOW() in this
            # execution returns the same value (§17.4.5.1)
            if getattr(self, "_now_lex", None) is None:
                from datetime import datetime, timezone

                self._now_lex = (
                    datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")
                    + "Z"
                )
            return ("now", self._now_lex)
        if name == "bnode":
            return ("bnode", salt, *args)
        return (name, *args)

    def _cast_call(self, tok: str) -> tuple:
        """XSD constructor cast: ``xsd:integer(?x)``, ``<…#double>(?x)``."""
        iri = tok[1:-1] if tok.startswith("<") else self._expand_pname(tok)
        local = iri[len(XSD_NS):] if iri.startswith(XSD_NS) else None
        if local not in _CAST_TYPES:
            raise SparqlSyntaxError(
                f"unsupported function call {tok!r} — only XSD "
                "constructor casts are callable by IRI"
            )
        self.next()
        self.expect("(")
        e = self._expr()
        self.expect(")")
        if local == "string":
            return ("str", e)
        if local in ("dateTime", "date"):
            return ("strdt", e, ("const", iri))
        return ("cast", local, e)


# ---------------------------------------------------------------------------
# compiler
# ---------------------------------------------------------------------------


def _null(t: str) -> Column:
    return F.lit(None).cast(t)


class Cx:
    """Compile scope. Before aggregation (``scalars`` is None) a
    variable reads its binding struct, and its ``__{v}_flbl`` label
    column when a string channel needs it (the names land in
    ``labels``; the caller attaches them). After aggregation
    ``scalars`` maps aggregate aliases and earlier SELECT-expression
    targets to 'num' | 'str'; only those and the group keys (``gvars``,
    still binding structs) are in scope. ``columns`` is the frame's
    column list, for lexical-sidecar lookups."""

    def __init__(self, columns=(), scalars=None, gvars=()):
        self.columns = set(columns)
        self.scalars = scalars
        self.gvars = set(gvars)
        self.labels: set[str] = set()

    def var(self, e) -> str:
        name = e[1][1:]
        if (self.scalars is not None and name not in self.scalars
                and name not in self.gvars):
            raise SparqlSyntaxError(
                "SELECT expression over a grouped query may only use "
                f"GROUP BY variables and aggregates, not {e[1]}"
            )
        return name

    def label(self, name: str) -> Column:
        self.labels.add(name)
        return F.col(f"__{name}_flbl")


def etype(e, cx: Cx | None = None) -> str:
    """Static channel of a node: 'num' | 'str' | 'bool' | 'term'."""
    tag = e[0]
    if tag == "var":
        scalars = cx.scalars if cx is not None else None
        return (scalars or {}).get(e[1][1:], "term")
    if tag in ("num", "arith", "cast"):
        return "num"
    if tag == "const":
        return "term"
    if tag in _BOOL_TAGS:
        return "bool"
    return FNS[tag][0]


def compile_expr(e, want: str, cx: Cx):
    """AST → Column in channel ``want`` ('num' | 'str' | 'bool'), or a
    ``(binding struct, lexical sidecar | None)`` pair for 'term'."""
    tag = e[0]
    if tag == "coalesce":
        # type-transparent: the caller's channel passes to every arg
        if want != "term":
            return F.coalesce(*[compile_expr(a, want, cx) for a in e[1:]])
        pairs = [compile_expr(a, "term", cx) for a in e[1:]]
        vlex = _null("string")
        for s, v in reversed(pairs):
            vlex = F.when(s.isNotNull(), _or_null(v)).otherwise(vlex)
        return F.coalesce(*[s for s, _ in pairs]), vlex
    if tag == "if":
        c = compile_expr(e[1], "bool", cx)
        a, b = compile_expr(e[2], want, cx), compile_expr(e[3], want, cx)
        if want != "term":
            return F.when(c, a).when(~c, b)  # error condition → error
        return (F.when(c, a[0]).when(~c, b[0]),
                F.when(c, _or_null(a[1])).when(~c, _or_null(b[1])))
    t = etype(e, cx)
    if t == "term":
        return _term(e, want, cx)
    col = {"num": _num, "str": _str, "bool": _bool}[t](e, cx)
    if want == t:
        return col
    if want == "term":
        if t == "str":
            return _kterm(1, col), col
        num = col if t == "num" else F.when(col, 1.0).when(~col, 0.0)
        return F.when(num.isNotNull(), _binding_struct(
            F.lit(2), F.lit(None), num)), None
    if want == "num":  # a string in arithmetic is a type error
        return F.when(col, 1.0).when(~col, 0.0) if t == "bool" else _null("double")
    if want == "str":
        if t == "num":
            return col.cast("string")
        return F.when(col, "true").when(~col, "false")
    if t == "num":  # want == "bool": §17.2.2 EBV (NaN is false)
        return (col != 0) & ~F.isnan(col)
    return F.length(col) > 0


def _or_null(c):
    return _null("string") if c is None else c


def _kterm(kind: int, lex: Column) -> Column:
    """A content-addressed term struct from its stored lexical form
    (the same id a dictionary entry would carry)."""
    return F.when(lex.isNotNull(), _binding_struct(
        F.lit(kind), F.xxhash64(F.lit(kind).cast("int"), lex), F.lit(None),
    ))


def _ebv(struct: Column, raw: Column, lex: Column) -> Column:
    """§17.2.2 EBV of a term: numerics (incl. inlined booleans) true
    iff non-zero and not NaN; plain / xsd:string literals iff
    non-empty; IRIs, blank nodes and other typed literals are errors."""
    kind, num = struct.getField("kind"), struct.getField("num")
    return (
        F.when(kind == 2, (num != 0) & ~F.isnan(num))
        .when((kind == 1) & raw.rlike(_EBV_NONSTR_RX), _null("boolean"))
        .when(kind == 1, F.length(lex) > 0)
    )


def _term(e, want: str, cx: Cx):
    tag = e[0]
    if tag == "var":
        name = cx.var(e)
        col = F.col(name)
        if want == "term":
            side = f"__{name}_vlex"
            return col, (F.col(side) if side in cx.columns else None)
        if want == "num":
            return col.getField("num")
        if want == "str":
            cx.label(name)
            return str_value(name)
        return _ebv(col, cx.label(name), str_value(name))
    struct, raw, lex = _ctor(e, cx)
    if want == "term":
        return struct, raw
    if want == "num":
        return struct.getField("num")
    if want == "str":
        return lex
    return _ebv(struct, raw, lex)


def _ctor(e, cx: Cx) -> tuple:
    """A constant or constructed term → (struct, stored lexical, STR())."""
    tag = e[0]
    if tag == "const":
        t = e[1]
        lex, kind = t if isinstance(t, tuple) else (t, 0)
        return _kterm(kind, F.lit(lex)), F.lit(lex), F.lit(_lit_lex(t))
    if tag == "iri":
        s = compile_expr(e[1], "str", cx)
        return _kterm(0, s), s, s
    if tag == "datatype":
        # stored ^^<dt> wrapper, else rdf:langString / xsd:string;
        # inline numerics erased their source datatype at encode time
        # (functions/encoding.py) — integral → xsd:integer, else
        # xsd:double (documented approximation); IRIs → error
        name = cx.var(e[1])
        lbl, v = cx.label(name), F.col(name)
        kind, num = v.getField("kind"), v.getField("num")
        dt = F.when(
            kind == 1,
            F.when(lbl.rlike(_DT_RX), F.regexp_extract(lbl, _DT_RX, 1))
            .when(lbl.rlike(_LANG_RX), F.lit(_RDF_LANGSTRING))
            .otherwise(F.lit(XSD_NS + "string")),
        ).when(
            kind == 2,
            F.when(num == F.floor(num), F.lit(XSD_NS + "integer"))
            .otherwise(F.lit(XSD_NS + "double")),
        )
        return _kterm(0, dt), dt, dt
    if tag == "bnode":
        # §17.4.2.9 — a blank node fresh vs the dataset: a reserved
        # "_:bf"/"_:ba" prefix plus a hash of the WHOLE solution (the
        # CONSTRUCT template-bnode idiom). No-arg calls mix in their
        # per-call-site salt; BNODE(str) mixes the argument instead, so
        # same-literal calls within one solution unify, per spec.
        sol = (
            [F.col("__bnsol")] if "__bnsol" in cx.columns
            else [F.col(c) for c in sorted(cx.columns) if not c.startswith("__")]
        )
        if len(e) == 2:
            lex = F.concat(F.lit("_:bf"), F.lower(F.hex(
                F.xxhash64(F.lit(f"bn{e[1]}"), *sol))))
        else:
            arg = compile_expr(e[2], "str", cx)
            lex = F.when(arg.isNotNull(), F.concat(F.lit("_:ba"), F.lower(
                F.hex(F.xxhash64(F.lit("bna"), arg, *sol)))))
        return _kterm(0, lex), lex, _null("string")  # STR(blank) is an error
    if tag == "now":
        full = f'"{e[1]}"^^<{XSD_NS}dateTime>'
        return _kterm(1, F.lit(full)), F.lit(full), F.lit(e[1])
    if tag == "uuid":
        lex = F.concat(F.lit("urn:uuid:"), F.expr("uuid()"))
        return _kterm(0, lex), lex, lex
    if tag == "timezone":
        dur = timezone_duration(compile_expr(e[1], "str", cx))
        full = F.concat(F.lit('"'), dur, F.lit(f'"^^<{XSD_NS}dayTimeDuration>'))
        return _kterm(1, full), full, dur
    # strdt / strlang
    from hbase_rdf_spark.sources.ntriples import NUMERIC_DATATYPES

    plain = compile_expr(e[1], "str", cx)
    arg = e[2][1] if tag == "strdt" else _const_str(e[2], "STRLANG()")
    if tag == "strdt" and arg in NUMERIC_DATATYPES:
        # a numeric datatype constructs a kind-2 numeric (the scan side
        # inlines the same types); a non-numeric lexical is an error
        num = plain.try_cast("double")
        return (F.when(num.isNotNull(), _binding_struct(
            F.lit(2), F.lit(None), num)), _null("string"), plain)
    # the full N-Triples lexical form, exactly how the store keeps
    # tagged/typed literals, so ids line up with scans
    suffix = f'"@{arg}' if tag == "strlang" else f'"^^<{arg}>'
    full = F.concat(F.lit('"'), plain, F.lit(suffix))
    return _kterm(1, full), full, plain


def _num(e, cx: Cx) -> Column:
    tag = e[0]
    if tag == "var":  # a post-aggregation scalar
        return F.col(cx.var(e)).cast("double")
    if tag == "num":
        return F.lit(e[1])
    if tag == "arith":
        lc = compile_expr(e[2], "num", cx)
        rc = compile_expr(e[3], "num", cx)
        if e[1] == "/":
            # division by zero is an error → NULL, whatever the ANSI mode
            return F.when(rc != 0, lc / rc)
        return {"+": lc + rc, "-": lc - rc, "*": lc * rc}[e[1]]
    if tag == "rand":
        return F.rand()
    if tag == "cast":
        return _cast(e, cx)
    if tag in _DT_NUM_FNS:
        return dt_part(compile_expr(e[1], "str", cx), tag)
    if tag == "strlen":
        return F.length(compile_expr(e[1], "str", cx)).cast("double")
    c = compile_expr(e[1], "num", cx)
    if tag == "abs":
        return F.abs(c)
    if tag == "ceil":
        return F.ceil(c).cast("double")
    if tag == "floor":
        return F.floor(c).cast("double")
    # XPath ROUND: halves round toward positive infinity
    return F.floor(c + F.lit(0.5)).cast("double")


def _cast(e, cx: Cx) -> Column:
    """XSD numeric/boolean constructor cast (XPath casting rules): the
    argument's numeric value or, for a non-numeric term / string, its
    lexical form drives the cast. NULL = casting error."""
    _, target, arg = e
    t = etype(arg, cx)
    if t == "str":
        from_num, lex = _null("double"), compile_expr(arg, "str", cx)
    elif t == "term":
        from_num = compile_expr(arg, "num", cx)
        # the lexical channel only for NON-numeric terms
        lex = F.when(from_num.isNull(), compile_expr(arg, "str", cx))
    else:
        from_num, lex = compile_expr(arg, "num", cx), _null("string")
    lex = F.trim(lex)
    if target == "boolean":
        return F.coalesce(
            F.when(from_num.isNotNull(),
                   F.when(from_num != 0, 1.0).otherwise(0.0)),
            F.when(lex.isin("true", "1"), 1.0).when(lex.isin("false", "0"), 0.0),
        )
    if target in _CAST_INT_TYPES:
        # constrained derived types enforce their value ranges — out of
        # range is an error, the rule the reference's TypedId encoders
        # assert (id/TypedIdTestNumericals.java:91-104)
        out = F.coalesce(
            from_num.cast("long"), lex.try_cast("long")
        ).cast("double")
        ok = {"nonPositiveInteger": out <= 0, "negativeInteger": out < 0,
              "positiveInteger": out > 0}.get(target)
        if target.startswith(("nonNegative", "unsigned")):
            ok = out >= 0
        return out if ok is None else F.when(ok, out)
    return F.coalesce(from_num, lex.try_cast("double"))


def _str(e, cx: Cx) -> Column:
    tag = e[0]
    if tag == "var":  # a post-aggregation scalar
        return F.col(cx.var(e)).cast("string")
    if tag == "struuid":
        return F.expr("uuid()")
    if tag == "concat":
        return F.concat(*[compile_expr(a, "str", cx) for a in e[1:]])
    if tag == "lang":
        # the tag of a language-tagged literal, "" for any other
        # literal; an IRI / blank node is an error. The RAW label
        # (wrapper intact) is read, not STR()'s stripped form.
        name = cx.var(e[1])
        raw = cx.label(name)
        return F.when(
            F.col(name).getField("kind").isin(1, 2),
            F.when(raw.rlike(_LANG_RX), F.regexp_extract(raw, _LANG_RX, 1))
            .otherwise(F.lit("")),
        )
    s = compile_expr(e[1], "str", cx)
    if tag == "str":
        return s
    if tag == "ucase":
        return F.upper(s)
    if tag == "lcase":
        return F.lower(s)
    if tag == "tz":
        return tz_part(s)
    if tag == "md5":
        return F.md5(s)
    if tag == "sha1":
        return F.sha1(s)
    if tag.startswith("sha"):
        return F.sha2(s, int(tag[3:]))
    if tag == "encode_for_uri":
        # Java URLEncoder → RFC 3986 percent-encoding (§17.4.3.18): '+'
        # (an encoded space) → %20, %7E → '~', kept '*' → %2A
        c = F.url_encode(s)
        c = F.replace(c, F.lit("+"), F.lit("%20"))
        c = F.replace(c, F.lit("%7E"), F.lit("~"))
        return F.replace(c, F.lit("*"), F.lit("%2A"))
    if tag == "substr":
        start = compile_expr(e[2], "num", cx).cast("int")
        n = (F.length(s) if len(e) == 3
             else compile_expr(e[3], "num", cx).cast("int"))
        return F.substring(s, start, n)
    if tag == "replace":
        pat, repl = _lit_lex(e[2][1]), _lit_lex(e[3][1])
        if len(e) == 5 and "i" in _lit_lex(e[4][1]):
            pat = "(?i)" + pat
        return F.regexp_replace(s, F.lit(pat), F.lit(repl))
    # strbefore / strafter (§17.4.3.8/.9): not found → ""
    t = _lit_lex(e[2][1])
    found = F.instr(s, t)
    if tag == "strbefore":
        if t == "":
            return F.lit("")
        return F.when(found > 0, F.substring(s, F.lit(1), found - 1)) \
            .otherwise(F.lit(""))
    if t == "":
        return s
    return F.when(
        found > 0, F.substring(s, found + len(t), F.length(s))
    ).otherwise(F.lit(""))


def _bool(e, cx: Cx) -> Column:
    tag = e[0]
    if tag == "cmp":
        return _cmp(e[1], e[2], e[3], cx)
    if tag in ("and", "or"):
        cs = [compile_expr(c, "bool", cx) for c in e[1:]]
        return reduce((lambda a, b: a & b) if tag == "and"
                      else (lambda a, b: a | b), cs)
    if tag == "not":
        return ~compile_expr(e[1], "bool", cx)
    if tag in ("in", "notin"):
        legs = [_cmp("=", e[1], it, cx) for it in e[2:]]
        c = reduce(lambda a, b: a | b, legs) if legs else F.lit(False)
        return c if tag == "in" else ~c
    if tag == "exists":
        return e[1].cond()
    if tag == "sameterm":
        return _cmp("=", e[1], e[2], cx)
    if tag in _VAR_ARG:
        name = cx.var(e[1])
        if tag == "bound":
            return F.col(name).isNotNull()
        kind = F.col(name).getField("kind")
        if tag == "isliteral":
            return kind.isin(1, 2)
        if tag == "isnumeric":
            return kind == 2
        # blank nodes share kind 0 with IRIs; the label prefix tells
        blank = cx.label(name).startswith("_:")
        return (kind == 0) & (blank if tag == "isblank" else ~blank)
    s = compile_expr(e[1], "str", cx)
    if tag == "regex":
        pat = _lit_lex(e[2][1])
        if len(e) == 4 and "i" in _lit_lex(e[3][1]):
            pat = "(?i)" + pat
        return s.rlike(pat)
    if tag == "langmatches":
        lang, rng = F.lower(s), _lit_lex(e[2][1]).lower()
        if rng == "*":
            return lang != ""
        return (lang == rng) | lang.startswith(rng + "-")
    t = compile_expr(e[2], "str", cx)
    if tag == "strstarts":
        return s.startswith(t)
    if tag == "strends":
        return s.endswith(t)
    return s.contains(t)


def _cmp(op: str, a, b, cx: Cx) -> Column:
    """§17.3 operator mapping, one channel per operand pair:
    date/dateTime literals compare as instants; a string operand (or an
    ordering against a literal) compares STR() forms; numbers and
    ordering compare numerically; two terms under =/!= are RDF-term
    (in)equality on the content-addressed id. A mismatch is NULL."""
    ta, tb = etype(a, cx), etype(b, cx)
    for x, y, o in ((a, b, op), (b, a, FLIP[op])):
        if _is_dt_lit(y) and etype(x, cx) == "term":
            # value semantics: equal instants in different timezones
            # compare equal (ARQ XSDFuncOp.compareDateTime parity)
            raw = (cx.label(cx.var(x)) if x[0] == "var"
                   else compile_expr(x, "term", cx)[1])
            inst = F.lit(_lit_lex(y[1])).try_cast("timestamp")
            return CMP[o](dt_instant(_or_null(raw)), inst)

    def lit(x):
        return x[0] == "const" and isinstance(x[1], tuple)

    if "str" in (ta, tb) or (op not in ("=", "!=") and (lit(a) or lit(b))):
        if {"num", "bool"} & {ta, tb}:
            return _null("boolean")
        lc, rc = compile_expr(a, "str", cx), compile_expr(b, "str", cx)
        if "lang" in (a[0], b[0]):  # language tags are case-insensitive
            lc, rc = F.lower(lc), F.lower(rc)
        return CMP[op](lc, rc)
    if ta != "term" or tb != "term" or op not in ("=", "!="):
        return CMP[op](compile_expr(a, "num", cx), compile_expr(b, "num", cx))
    if a[0] == "const":
        a, b = b, a
    lc = compile_expr(a, "term", cx)[0]
    if b[0] == "const":
        lex, kind = b[1] if isinstance(b[1], tuple) else (b[1], 0)
        eq = lc.getField("id") == F.xxhash64(F.lit(kind).cast("int"), F.lit(lex))
    else:
        eq = lc == compile_expr(b, "term", cx)[0]
    return eq if op == "=" else ~eq


# ---------------------------------------------------------------------------
# FILTER nodes
# ---------------------------------------------------------------------------


@dataclass
class ExistsExpr:
    """SPARQL 1.1 §17.4.1.4 ``EXISTS { … }`` as an *expression* — the
    payload of an ``('exists', ExistsExpr)`` leaf inside arbitrary
    FILTER / BIND / IF expressions.

    The bare top-level ``FILTER [NOT] EXISTS`` keeps its semi/anti-join
    fast path; this leaf instead reads a boolean *marker* column (one
    compatibility semi-join over the DISTINCT outer key set, joined
    back null-safely — never a row-multiplying join). EBV of EXISTS is
    always true/false, never an error, so the marker coalesces NULL (no
    compatible solution) to false."""

    marker: str  # hidden column name, attached by _exists_join
    block: object = None  # the braced group: a parsed sparql.Query

    def cond(self):
        return F.coalesce(F.col(self.marker), F.lit(False))


@dataclass
class Expr:
    """One FILTER conjunct: its AST, compiled once to the effective
    boolean value. Catalyst pushes the id-space comparisons it yields
    (``num`` field against a literal, ``id`` against a hashed constant)
    into the scans. Label-space when the compiled predicate reads a
    label column."""

    ast: tuple
    _compiled: tuple | None = field(default=None, compare=False, repr=False)

    def _compile(self) -> tuple:
        if self._compiled is None:
            cx = Cx()
            self._compiled = (compile_expr(self.ast, "bool", cx),
                              frozenset(cx.labels))
        return self._compiled

    def vars(self) -> set[str]:
        return expr_vars(self.ast)

    def label_vars(self) -> set[str]:
        return set(self._compile()[1])

    def cond(self):
        return self._compile()[0]


def exists_leaves(e) -> list:
    """Every ExistsExpr of an expression AST."""
    return [n[1] for n in walk(e) if n[0] == "exists"]
