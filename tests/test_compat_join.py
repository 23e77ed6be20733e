"""Property test of the one SPARQL compatibility join (``plans/sparql.py``
``_join``) against a nested-loop reference of SPARQL 1.1 §18.5 Join,
LeftJoin, Minus and [NOT] EXISTS.

Hypothesis draws two solution multisets of 0–6 rows over the shared
vars ``a`` and ``b`` plus one private var per side. Each cell is
unbound or one of three ids, rows may repeat, and either side may carry
an ``__a_vlex`` lexical sidecar. Compatibility (§8.3): every var bound
on both sides agrees; a merged solution takes the bound side of each
var and of its sidecar; Minus also needs a var bound on both sides.
Null-free inputs also run with nothing nullable, which takes the equi
join.
"""

from collections import Counter

from hypothesis import HealthCheck, example, given, settings, strategies as st

from hbase_rdf_spark.plans.sparql import _join

HOWS = ("inner", "left", "minus", "exists", "not_exists")
SHARED = ("a", "b")
_STRUCT = "struct<kind:tinyint,id:bigint,num:double>"


def _cells(null_free: bool):
    ids = st.integers(1, 3)
    return ids if null_free else st.none() | ids


def _side(null_free: bool):
    """(rows, has_sidecar): a row is (a, b, private, sidecar present)."""
    row = st.tuples(_cells(null_free), _cells(null_free), _cells(null_free),
                    st.booleans())
    return st.tuples(st.lists(row, max_size=6), st.booleans())


def _frame(spark, side, private: str):
    """The side as an inline VALUES table: a local relation whose size
    Spark knows, so its joins broadcast the way VALUES tables do."""
    rows, vlex = side
    cols = ["a", "b", private] + (["__a_vlex"] if vlex else [])

    def cell(x):
        if x is None:
            return f"CAST(NULL AS {_STRUCT})"
        return f"CAST(named_struct('kind', 0, 'id', {x}, 'num', NULL) AS {_STRUCT})"

    null_lex = "CAST(NULL AS STRING)"
    data = []
    for a, b, p, lex in rows:
        rec = [cell(x) for x in (a, b, p)]
        if vlex:
            rec.append(f"'t{a}'" if a is not None and lex else null_lex)
        data.append(rec)
    # VALUES needs a row: an empty side filters out an unbound one
    where = "" if data else " WHERE false"
    data = data or [[cell(None)] * 3 + [null_lex] * vlex]
    body = ", ".join(f"({', '.join(rec)})" for rec in data)
    return spark.sql(f"SELECT * FROM VALUES {body} AS t({', '.join(cols)}){where}")


def _solutions(side, private: str) -> list[dict]:
    rows, vlex = side
    out = []
    for a, b, p, lex in rows:
        mu = {"a": a, "b": b, private: p}
        if vlex:
            mu["__a_vlex"] = f"t{a}" if a is not None and lex else None
        out.append(mu)
    return out


def _compatible(m1: dict, m2: dict) -> bool:
    return all(m1[v] is None or m2[v] is None or m1[v] == m2[v] for v in SHARED)


def _merge(m1: dict, m2: dict) -> dict:
    return {k: m1.get(k) if m1.get(k) is not None else m2.get(k)
            for k in {*m1, *m2}}


def reference(left: list, right: list, how: str) -> list:
    """The §18.5 algebra over Python dicts, one nested loop per operator."""
    if how == "inner":
        return [_merge(m1, m2) for m1 in left for m2 in right if _compatible(m1, m2)]
    if how == "left":
        out = []
        for m1 in left:
            ext = [_merge(m1, m2) for m2 in right if _compatible(m1, m2)]
            out += ext or [m1]
        return out
    if how == "minus":
        return [m1 for m1 in left if not any(
            _compatible(m1, m2)
            and any(m1[v] is not None and m2[v] is not None for v in SHARED)
            for m2 in right)]
    hit = [any(_compatible(m1, m2) for m2 in right) for m1 in left]
    return [m1 for m1, h in zip(left, hit) if h == (how == "exists")]


def _bag(rows: list[dict], cols: list) -> Counter:
    return Counter(tuple(r.get(c) for c in cols) for r in rows)


def _got(df) -> tuple[Counter, list]:
    cols = sorted(df.columns)
    return Counter(
        tuple(r[c] if c.endswith("_vlex") or r[c] is None else r[c]["id"]
              for c in cols)
        for r in df.collect()
    ), cols


def _check(spark, left_side, right_side, nullable: set) -> None:
    lf, rf = _frame(spark, left_side, "l"), _frame(spark, right_side, "r")
    ls, rs = _solutions(left_side, "l"), _solutions(right_side, "r")
    for how in HOWS:
        got, cols = _got(_join(lf, rf, how, nullable))
        want = _bag(reference(ls, rs, how), cols)
        assert got == want, f"how={how} left={left_side} right={right_side}"


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=_side(False), right=_side(False))
# each left row is compatible with both an equal and a null-key step
# row: a semi join keeps it once, a join extends it twice
@example(
    left=([(1, 2, 1, False), (1, 2, 1, False)], False),
    right=([(1, 2, 3, False), (1, None, 2, False)], False),
)
def test_join_matches_algebra(spark, left, right):
    _check(spark, left, right, set(SHARED))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=_side(True), right=_side(True))
def test_null_free_equi_join_matches_algebra(spark, left, right):
    _check(spark, left, right, set())

