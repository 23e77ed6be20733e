"""Lint: no per-element recompute inside Spark higher-order functions.

Catalyst does no common-subexpression elimination inside the lambda of
a higher-order function (``F.transform``, ``filter``, ``aggregate``,
``exists``, ``forall``, ``zip_with``): an expression the lambda builds
from outer columns only, such as ``F.size(F.split(F.col("text"), " "))``,
is evaluated again for every array element. That made one extraction
O(n²) per document (30 min → 6.6 s at sf1.0 once the token array was
bound to a column first, ``sources/wordkg.py``).

The check walks every ``.py`` under ``hbase_rdf_spark/``. For each
lambda or function passed to one of those calls, every ``F.*`` call in
its body must read one of its parameters (or a local computed from
them), except a bare ``F.col`` or ``F.lit``.

SQL lambdas (``x -> ...``, ``(acc, x) -> ...``) inside the strings
passed to ``F.expr``, ``expr`` and ``selectExpr`` are checked too: the
body of each must name one of its parameters. A string is followed
through f-strings, ``+``, ``.format`` and module-level string
constants; a substituted value the lint cannot resolve counts as
naming no parameter.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

HOFS = {"transform", "filter", "aggregate", "exists", "forall", "zip_with"}
EXEMPT = {"col", "lit"}
PACKAGE = Path(__file__).resolve().parent.parent / "hbase_rdf_spark"


def _functions_aliases(tree: ast.AST) -> set[str]:
    """Names the module binds to ``pyspark.sql.functions``."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and n.module == "pyspark.sql":
            out |= {a.asname or a.name for a in n.names if a.name == "functions"}
        elif isinstance(n, ast.Import):
            out |= {
                a.asname for a in n.names
                if a.name == "pyspark.sql.functions" and a.asname
            }
    return out


def _f_call(node: ast.AST, aliases: set[str]) -> str | None:
    """``F.name(...)`` → ``name``."""
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id in aliases
    ):
        return node.func.attr
    return None


def _names(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _params(fn: ast.Lambda | ast.FunctionDef) -> set[str]:
    out = set()
    for n in ast.walk(fn):
        if isinstance(n, (ast.Lambda, ast.FunctionDef)):
            a = n.args
            out |= {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
    return out


def _element_names(fn: ast.Lambda | ast.FunctionDef) -> set[str]:
    """The function's parameters plus every local assigned from them."""
    tainted = _params(fn)
    assigns = [n for n in ast.walk(fn) if isinstance(n, ast.Assign)]
    changed = True
    while changed:
        changed = False
        for a in assigns:
            if _names(a.value) & tainted:
                for t in a.targets:
                    new = _names(t) - tainted
                    if new:
                        tainted |= new
                        changed = True
    return tainted


def hof_violations(source: str, filename: str = "<src>") -> list[str]:
    """Every ``F.*`` call inside a HOF lambda that reads no element."""
    tree = ast.parse(source)
    aliases = _functions_aliases(tree)
    defs = {
        n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
    }
    out: list[str] = []
    for call in ast.walk(tree):
        if _f_call(call, aliases) not in HOFS:
            continue
        for arg in call.args + [k.value for k in call.keywords]:
            fn = arg if isinstance(arg, ast.Lambda) else (
                defs.get(arg.id) if isinstance(arg, ast.Name) else None
            )
            if fn is None:
                continue
            elem = _element_names(fn)
            for inner in ast.walk(fn):
                name = _f_call(inner, aliases)
                if name is None or name in EXEMPT:
                    continue
                used = set().union(
                    *(_names(a) for a in inner.args),
                    *(_names(k.value) for k in inner.keywords),
                )
                if not used & elem:
                    out.append(
                        f"{filename}:{inner.lineno}: F.{name} inside the "
                        f"function passed to F.{call.func.attr} reads no "
                        "element; bind it to a column outside"
                    )
    # a nested function is walked once per enclosing HOF argument
    return sorted(set(out))


def _hof_sites(source: str) -> int:
    tree = ast.parse(source)
    aliases = _functions_aliases(tree)
    return sum(1 for n in ast.walk(tree) if _f_call(n, aliases) in HOFS)


SQL_EXPR_CALLS = {"expr", "selectExpr"}
_SQL_PARAMS = re.compile(r"(?:\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)|(\w+))\s*$")


def _module_bindings(tree: ast.Module) -> dict[str, ast.expr]:
    """Module-level ``NAME = <expression>`` bindings."""
    return {
        t.id: n.value
        for n in tree.body if isinstance(n, ast.Assign)
        for t in n.targets if isinstance(t, ast.Name)
    }


def _sql_text(node: ast.AST, consts: dict[str, ast.expr], seen=frozenset()) -> str | None:
    """The SQL text an expression builds, a substituted value the lint
    cannot follow replaced by ``0``; None when it is no string."""
    if isinstance(node, ast.Constant):
        return node.value if isinstance(node.value, str) else None
    if isinstance(node, ast.Name) and node.id in consts and node.id not in seen:
        return _sql_text(consts[node.id], consts, seen | {node.id})
    if isinstance(node, ast.JoinedStr):
        return "".join(
            _sql_text(v.value, consts, seen) or "0"
            if isinstance(v, ast.FormattedValue) else v.value
            for v in node.values
        )
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        parts = [_sql_text(x, consts, seen) for x in (node.left, node.right)]
        return None if None in parts else "".join(parts)
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "format"):
        return _sql_text(node.func.value, consts, seen)
    return None


def _lambda_body(text: str, start: int) -> str:
    """The SQL lambda body that starts at ``start``: up to the first
    ``,`` or unmatched ``)`` outside parentheses and quotes."""
    depth, quote = 0, None
    for i in range(start, len(text)):
        c = text[i]
        if quote:
            quote = None if c == quote else quote
        elif c in "'\"":
            quote = c
        elif c in "([":
            depth += 1
        elif c in ")]":
            if depth == 0:
                return text[start:i]
            depth -= 1
        elif c == "," and depth == 0:
            return text[start:i]
    return text[start:]


def sql_lambdas(text: str) -> list[tuple[list[str], str]]:
    """(parameters, body) of every SQL lambda in ``text``."""
    out = []
    for m in re.finditer(r"->", text):
        p = _SQL_PARAMS.search(text[:m.start()])
        params = re.split(r"\s*,\s*", p.group(1) or p.group(2)) if p else []
        out.append((params, _lambda_body(text, m.end())))
    return out


def sql_lambda_violations(source: str, filename: str = "<src>") -> tuple[list[str], int]:
    """(every SQL lambda whose body names none of its parameters,
    number of SQL lambdas seen) in strings passed to F.expr /
    expr / selectExpr."""
    tree = ast.parse(source)
    consts = _module_bindings(tree)
    out, seen = [], 0
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        f = call.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name not in SQL_EXPR_CALLS:
            continue
        for arg in call.args:
            text = _sql_text(arg, consts)
            for params, body in sql_lambdas(text or ""):
                seen += 1
                if not params or not any(
                    re.search(rf"\b{re.escape(x)}\b", body) for x in params
                ):
                    out.append(
                        f"{filename}:{call.lineno}: SQL lambda "
                        f"({', '.join(params)}) -> {body.strip()} names none "
                        "of its parameters; bind it to a column outside"
                    )
    return sorted(set(out)), seen


def test_package_has_no_per_element_recompute():
    found, sites, sql_sites = [], 0, 0
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        rel = str(path.relative_to(PACKAGE.parent))
        sites += _hof_sites(src)
        found += hof_violations(src, rel)
        bad, n = sql_lambda_violations(src, rel)
        found += bad
        sql_sites += n
    # the lint must actually see the package's HOF sites (wordkg's
    # trigram transform, ntriples' two unescape transforms) and the
    # SQL lambdas of the linker's sketch (shingle hashes, 31-bit
    # reduction, and the minhash fold with its inner transform)
    assert sites >= 3
    assert sql_sites >= 4
    assert found == []


def test_seeded_violation_goes_red():
    src = (
        "from pyspark.sql import functions as F\n"
        "toks = F.col('_t')\n"
        "ok = F.transform(toks, lambda t: F.upper(t))\n"
        "bad = F.transform(\n"
        "    F.sequence(F.lit(1), F.lit(3)),\n"
        "    lambda i: F.element_at(F.split(F.col('text'), ' '), i),\n"
        ")\n"
    )
    found = hof_violations(src)
    assert len(found) == 1 and "F.split" in found[0], found


def test_named_inner_function_is_checked():
    src = (
        "from pyspark.sql import functions as F\n"
        "def outer(arr):\n"
        "    def piece(p):\n"
        "        head = F.substring(p, 1, 2)\n"
        "        return F.concat(head, F.upper(F.col('suffix')))\n"
        "    return F.transform(arr, piece)\n"
    )
    found = hof_violations(src)
    assert len(found) == 1 and "F.upper" in found[0], found


def test_seeded_sql_lambda_violations_go_red():
    src = (
        "from pyspark.sql import functions as F\n"
        "_OK = 'transform(toks, t -> upper(t))'\n"
        "_BAD = f\"transform(sequence(1, {3}), i -> upper(text))\"\n"
        "_FOLD = 'aggregate(xs, 0L, (acc, x) -> acc + size(split(text, \\' \\')))'\n"
        "df.selectExpr('id', f'{_OK} AS a', _BAD + ' AS b')\n"
        "df.select(F.expr(_FOLD), F.expr('exists(xs, x -> x > 0)'))\n"
        "df.selectExpr('filter(xs, x -> {} > 0)'.format('n'))\n"
    )
    found, seen = sql_lambda_violations(src)
    assert seen == 5
    assert len(found) == 2, found
    assert "(i) -> upper(text)" in found[0]  # followed through an f-string
    assert "(x) -> {} > 0" in found[1]  # the format argument is not followed
