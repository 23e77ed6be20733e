"""Gate registry parity for ``__spark_entry__.py``, read from its source.

Every ``queries()`` gate needs a DuckDB twin in ``oracle_sql()`` and
every twin needs its gate: an orphan on either side is a gate that is
never checked. The module is parsed, not imported, so no Spark session
starts.
"""

import ast
from pathlib import Path

ENTRY = Path(__file__).resolve().parents[1] / "__spark_entry__.py"
SCORED = 50  # the correctness gate scores the first 50 queries() entries


def registry_keys(source: str, func: str) -> list[str]:
    """Keys of the dict literal that top-level ``func`` returns, in
    source order (a repeated key is kept, so it can be caught)."""
    tree = ast.parse(source)
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == func
    )
    ret = next(n for n in ast.walk(fn) if isinstance(n, ast.Return))
    assert isinstance(ret.value, ast.Dict), f"{func}() must return a dict literal"
    return [k.value for k in ret.value.keys]


def parity_errors(source: str) -> list[str]:
    gates = registry_keys(source, "queries")
    twins = registry_keys(source, "oracle_sql")
    errors = [f"repeated gate {k}" for k in sorted(set(gates)) if gates.count(k) > 1]
    errors += [f"repeated twin {k}" for k in sorted(set(twins)) if twins.count(k) > 1]
    errors += [f"gate without twin {k}" for k in sorted(set(gates) - set(twins))]
    errors += [f"twin without gate {k}" for k in sorted(set(twins) - set(gates))]
    return errors


def test_queries_and_oracles_name_the_same_gates():
    assert parity_errors(ENTRY.read_text()) == []


def test_scored_window_holds_only_kg_gates():
    window = registry_keys(ENTRY.read_text(), "queries")[:SCORED]
    assert len(window) == SCORED
    assert [k for k in window if not k.startswith(("kg_", "nt_"))] == []


def test_parity_check_catches_orphans():
    seeded = (
        "def queries():\n"
        "    return {'kg_a': f, 'kg_b': g, 'kg_a': h}\n"
        "def oracle_sql():\n"
        "    return {'kg_a': 'SELECT 1', 'kg_c': 'SELECT 2'}\n"
    )
    assert parity_errors(seeded) == [
        "repeated gate kg_a",
        "gate without twin kg_b",
        "twin without gate kg_c",
    ]
