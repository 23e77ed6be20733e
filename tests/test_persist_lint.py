"""Lint: every ``.persist()`` in the package is released.

A persisted DataFrame stays in Spark's cache until someone calls
``unpersist``. The linker once persisted five DataFrames per call and
released none: each build grew the session's cache, and repeated
identical builds quietly reused the leaked blocks.

The check walks every ``.py`` under ``hbase_rdf_spark/``. The
outermost function around each ``.persist()`` call must name
``.unpersist`` itself (a call, or a bound method handed to a finalizer),
or, in a method, another method of the same class must
(``KgEngine.cache`` / ``uncache``). A ``.persist()`` outside any
function is a violation.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "hbase_rdf_spark"


def _names_unpersist(node: ast.AST) -> bool:
    return any(isinstance(n, ast.Attribute) and n.attr == "unpersist"
               for n in ast.walk(node))


def _is_persist(node: ast.AST) -> bool:
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "persist")


def persist_violations(source: str, filename: str = "<src>") -> tuple[list[str], int]:
    """(unreleased ``.persist()`` calls, number of ``.persist()`` calls)."""
    tree = ast.parse(source)
    fns = (ast.FunctionDef, ast.AsyncFunctionDef)
    # each .persist() call → its outermost function and that function's class
    owner: dict[ast.Call, tuple[ast.AST | None, ast.ClassDef | None]] = {}

    def visit(node: ast.AST, fn: ast.AST | None, cls: ast.ClassDef | None) -> None:
        for child in ast.iter_child_nodes(node):
            if _is_persist(child):
                owner[child] = (fn, cls)
            if isinstance(child, ast.ClassDef) and fn is None:
                visit(child, None, child)
            elif isinstance(child, fns) and fn is None:
                visit(child, child, cls)
            else:
                visit(child, fn, cls)

    visit(tree, None, None)
    out = []
    for call, (fn, cls) in owner.items():
        if fn is not None and (_names_unpersist(fn)
                               or (cls is not None and _names_unpersist(cls))):
            continue
        where = getattr(fn, "name", "<module>")
        out.append((call.lineno, f"{filename}:{call.lineno}: .persist() in "
                    f"{where} is never unpersisted there or by its class"))
    return [msg for _, msg in sorted(out)], len(owner)


def test_package_releases_every_persist():
    found, sites = [], 0
    for path in sorted(PACKAGE.rglob("*.py")):
        bad, n = persist_violations(path.read_text(),
                                    str(path.relative_to(PACKAGE.parent)))
        found += bad
        sites += n
    # the lint must see the package's persists (pipeline, incremental,
    # materialize, update, the engine's cache, the gazetteer index)
    assert sites >= 8
    assert found == []


def test_seeded_persist_violations_go_red():
    src = (
        "import weakref\n"
        "top = df.persist()\n"
        "def leaks(df):\n"
        "    a = df.persist()\n"
        "    return a.count()\n"
        "def released(df):\n"
        "    a = df.persist()\n"
        "    try:\n"
        "        return a.count()\n"
        "    finally:\n"
        "        a.unpersist()\n"
        "def nested(df):\n"
        "    def inner():\n"
        "        return df.persist()\n"
        "    x = inner()\n"
        "    x.unpersist()\n"
        "def finalized(owner, df):\n"
        "    a = df.persist()\n"
        "    weakref.finalize(owner, a.unpersist)\n"
        "class Pins:\n"
        "    def pin(self, df):\n"
        "        self.df = df.persist()\n"
        "class Cache:\n"
        "    def pin(self, df):\n"
        "        self.df = df.persist()\n"
        "    def unpin(self):\n"
        "        self.df.unpersist()\n"
    )
    found, sites = persist_violations(src)
    assert sites == 7
    assert [f.split(": ", 1)[0] for f in found] == ["<src>:2", "<src>:4", "<src>:22"], found
