"""Property tests for FILTER operand algebra, end to end through Spark.

Unary minus, ± constant offsets, arithmetic IN lists and var-var
comparisons all compile through the one expression compiler
(plans/expr.py ``compile_expr``). For each generated FILTER, the
subjects the engine returns must be exactly those whose stored values
satisfy a direct Python evaluation of the same expression — checked
over every value in the store at once, so one query covers the whole
sampled range.
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

XSD_I = "http://www.w3.org/2001/XMLSchema#integer"

OPS = ["<", "<=", ">", ">=", "=", "!="]

_PY = {
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
    "=": lambda a, b: a == b, "!=": lambda a, b: a != b,
}

# one subject per ?p value; one subject per (?p, ?q) grid point
VALUES = list(range(-60, 61))
GRID = [(p, q) for p in range(-30, 31, 5) for q in range(-30, 31, 5)]


def _v(v):
    return f"http://ex/v{v + 100}"


def _w(p, q):
    return f"http://ex/w{p + 100}_{q + 100}"


def _lit(v):
    return f'"{v}"^^<{XSD_I}>'


NQ = (
    [f"<{_v(v)}> <http://ex/p> {_lit(v)} ." for v in VALUES]
    + [f"<{_w(p, q)}> <http://ex/p2> {_lit(p)} ." for p, q in GRID]
    + [f"<{_w(p, q)}> <http://ex/q2> {_lit(q)} ." for p, q in GRID]
)

SETTINGS = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.fixture(scope="module")
def vstore(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("falgstore"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st_ = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st_.write_dictionaries(t2i, i2t, "nq")
    st_.write_indexes(encode_quads(resolved), "nq")
    return st_


def _subjects(store, query):
    return {r[0] for r in execute(store, query).collect()}


def _over_p(store, cond):
    return _subjects(
        store, f"SELECT ?s WHERE {{ ?s <http://ex/p> ?p . FILTER({cond}) }}")


@SETTINGS
@given(
    sign=st.sampled_from(["", "-"]),
    off=st.integers(-20, 20),
    rhs=st.integers(-40, 40),
    op=st.sampled_from(OPS),
    paren=st.booleans(),
)
def test_unary_minus_offset_normalization(vstore, sign, off, rhs, op, paren):
    body = f"?p + {off}" if off >= 0 else f"?p - {-off}"
    lhs = f"{sign}({body})" if paren else f"{sign}{body}"
    s = -1 if sign == "-" else 1
    want = {
        _v(p) for p in VALUES
        if _PY[op]((s * (p + off)) if paren else (s * p + off), rhs)
    }
    assert _over_p(vstore, f"{lhs} {op} {rhs}") == want, (lhs, op, rhs)


@SETTINGS
@given(
    off=st.integers(-15, 15),
    members=st.lists(st.integers(-40, 40), min_size=1, max_size=4),
    neg=st.booleans(),
)
def test_arithmetic_in_list_solves_for_var(vstore, off, members, neg):
    lhs = f"?p + {off}" if off >= 0 else f"?p - {-off}"
    lst = ", ".join(str(m) for m in members)
    kw = "NOT IN" if neg else "IN"
    want = {_v(p) for p in VALUES if ((p + off) in members) != neg}
    assert _over_p(vstore, f"{lhs} {kw} ({lst})") == want, (lhs, kw, members)


@SETTINGS
@given(
    sign=st.sampled_from(["", "-"]),
    r_off=st.integers(-20, 20),
    op=st.sampled_from(OPS),
)
def test_same_sign_var_var_normalization(vstore, sign, r_off, op):
    roff = f"+ {r_off}" if r_off >= 0 else f"- {-r_off}"
    cond = f"{sign}?p {op} {sign}?q {roff}"
    s = -1 if sign == "-" else 1
    want = {_w(p, q) for p, q in GRID if _PY[op](s * p, s * q + r_off)}
    got = _subjects(vstore, f"""
        SELECT ?s WHERE {{ ?s <http://ex/p2> ?p . ?s <http://ex/q2> ?q .
          FILTER({cond}) }}""")
    assert got == want, cond
