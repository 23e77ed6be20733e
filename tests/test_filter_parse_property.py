"""Property tests for FILTER operand normalization — parser only, no
SparkSession.

FILTER lowering normalizes unary minus, ± constant offsets, and
arithmetic IN lists algebraically onto the pushdown filter classes
(plans/expr.py lower_filter). These
properties check the algebra symbolically: for every sampled variable
value, the normalized (var, op, value) predicate must agree with a
direct evaluation of the original expression.
"""

from hypothesis import given, settings, strategies as st

from hbase_rdf_spark.plans.bgp import Filter, VarFilter
from hbase_rdf_spark.plans.filters import Not, Or
from hbase_rdf_spark.plans.sparql import parse

OPS = ["<", "<=", ">", ">=", "=", "!="]

_PY = {
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
    "=": lambda a, b: a == b, "!=": lambda a, b: a != b,
}


def _eval_filter(f, p, q=None):
    """Evaluate a parsed numeric filter tree at ?p = p (and ?q = q)."""
    if isinstance(f, Not):
        return not _eval_filter(f.child, p, q)
    if isinstance(f, Or):
        return any(_eval_filter(c, p, q) for c in f.children)
    if isinstance(f, VarFilter):
        other = q if f.other == "?q" else p
        return _PY[f.op](p if f.var == "?p" else q, other + f.offset)
    assert isinstance(f, Filter)
    return _PY[f.op](p if f.var == "?p" else q, f.value)


def _single_filter(query):
    q = parse(query)
    assert len(q.filters) == 1, q.filters
    return q.filters[0]


@settings(max_examples=200, deadline=None)
@given(
    sign=st.sampled_from(["", "-"]),
    off=st.integers(-20, 20),
    rhs=st.integers(-40, 40),
    op=st.sampled_from(OPS),
    paren=st.booleans(),
    values=st.lists(st.integers(-60, 60), min_size=1, max_size=5),
)
def test_unary_minus_offset_normalization(sign, off, rhs, op, paren, values):
    body = f"?p + {off}" if off >= 0 else f"?p - {-off}"
    lhs = f"{sign}({body})" if paren else (
        f"{sign}?p + {off}" if off >= 0 else f"{sign}?p - {-off}"
    )
    f = _single_filter(
        f"SELECT ?s WHERE {{ ?s <http://ex/p> ?p . "
        f"FILTER({lhs} {op} {rhs}) }}"
    )
    s = -1 if sign == "-" else 1
    for p in values:
        want = _PY[op](
            (s * (p + off)) if paren else (s * p + off), rhs
        )
        assert _eval_filter(f, p) == want, (lhs, op, rhs, p)


@settings(max_examples=200, deadline=None)
@given(
    off=st.integers(-15, 15),
    members=st.lists(st.integers(-40, 40), min_size=1, max_size=4),
    neg=st.booleans(),
    values=st.lists(st.integers(-60, 60), min_size=1, max_size=6),
)
def test_arithmetic_in_list_solves_for_var(off, members, neg, values):
    lhs = f"?p + {off}" if off >= 0 else f"?p - {-off}"
    lst = ", ".join(str(m) for m in members)
    kw = "NOT IN" if neg else "IN"
    f = _single_filter(
        f"SELECT ?s WHERE {{ ?s <http://ex/p> ?p . "
        f"FILTER({lhs} {kw} ({lst})) }}"
    )
    for p in values:
        want = (p + off) in members
        if neg:
            want = not want
        assert _eval_filter(f, p) == want, (lhs, kw, members, p)


@settings(max_examples=150, deadline=None)
@given(
    sign=st.sampled_from(["", "-"]),
    r_off=st.integers(-20, 20),
    op=st.sampled_from(OPS),
    pairs=st.lists(
        st.tuples(st.integers(-30, 30), st.integers(-30, 30)),
        min_size=1, max_size=5,
    ),
)
def test_same_sign_var_var_normalization(sign, r_off, op, pairs):
    roff = f"+ {r_off}" if r_off >= 0 else f"- {-r_off}"
    f = _single_filter(
        f"SELECT ?s WHERE {{ ?s <http://ex/p> ?p . ?s <http://ex/q> ?q . "
        f"FILTER({sign}?p {op} {sign}?q {roff}) }}"
    )
    s = -1 if sign == "-" else 1
    for p, q in pairs:
        want = _PY[op](s * p, s * q + r_off)
        assert _eval_filter(f, p, q) == want, (sign, op, r_off, p, q)


def test_boolean_literals_parse_to_inlined_numerics():
    q = parse(
        'SELECT ?s WHERE { ?s <http://ex/f> true . '
        '?s <http://ex/g> "false"^^'
        '<http://www.w3.org/2001/XMLSchema#boolean> }'
    )
    objs = [p.o for p in q.patterns]
    assert objs == [1.0, 0.0]


def test_ill_typed_numeric_literal_stays_string():
    q = parse(
        'SELECT ?s WHERE { ?s <http://ex/n> "12x"^^'
        '<http://www.w3.org/2001/XMLSchema#integer> }'
    )
    assert q.patterns[0].o == (
        '"12x"^^<http://www.w3.org/2001/XMLSchema#integer>', 1
    )


def test_all_inlined_numeric_datatypes_parse_numeric():
    # every datatype the SCAN side inlines as a kind-2 numeric
    # (sources/ntriples.py NUMERIC_DATATYPES) must parse numeric on
    # the QUERY side too, or constants can never match their stored
    # form — the same store/parser divergence the boolean fix closed
    from hbase_rdf_spark.sources.ntriples import NUMERIC_DATATYPES

    for dt in NUMERIC_DATATYPES:
        q = parse(f'SELECT ?s WHERE {{ ?s <http://ex/p> "7"^^<{dt}> }}')
        assert q.patterns[0].o == 7.0, dt
