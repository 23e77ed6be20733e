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
"""

from __future__ import annotations

import ast
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


def test_package_has_no_per_element_recompute():
    found, sites = [], 0
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        sites += _hof_sites(src)
        found += hof_violations(src, str(path.relative_to(PACKAGE.parent)))
    # the lint must actually see the package's HOF sites (wordkg's
    # trigram transform, ntriples' two unescape transforms)
    assert sites >= 3
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
