"""FILTER operand algebra: unary minus, arithmetic IN lists, str() IN
lists, and arithmetic on either side of a comparison.

The reference gets all of these from stock ARQ expression evaluation
(SURVEY J12 — sail/HBaseQueryVisitor.java:289-313 walks the parsed
expression tree; the ARQ side evaluates grammar [118] UnaryExpression
and [116] RelationalExpression's IN/NOT IN natively). Here every FILTER
conjunct compiles through the one expression compiler (plans/expr.py
``compile_expr``): ``-?p < c`` compares the negated ``num`` field,
``?p + 1 IN (13)`` is an Or of numeric equalities, ``str(?x) IN (…)``
an Or of lexical comparisons. Arithmetic on an IRI is a type error, so
``?a = ?b + 0`` never matches IRI bindings, while plain ``?a = ?b`` is
RDF-term equality and does.
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

XSD_I = "http://www.w3.org/2001/XMLSchema#integer"

NQ = [
    f'<http://ex/i1> <http://ex/price> "12"^^<{XSD_I}> .',
    f'<http://ex/i2> <http://ex/price> "17"^^<{XSD_I}> .',
    f'<http://ex/i3> <http://ex/price> "23"^^<{XSD_I}> .',
    '<http://ex/i1> <http://ex/name> "alpha" .',
    '<http://ex/i2> <http://ex/name> "beta" .',
    '<http://ex/i1> <http://ex/knows> <http://ex/i2> .',
    '<http://ex/i2> <http://ex/knows> <http://ex/i3> .',
    # a1's ?p/?q values are IRIs, a2's equal numbers, a3's different ones
    "<http://ex/a1> <http://ex/p> <http://ex/o1> .",
    "<http://ex/a1> <http://ex/q> <http://ex/o1> .",
    f'<http://ex/a2> <http://ex/p> "5"^^<{XSD_I}> .',
    f'<http://ex/a2> <http://ex/q> "5"^^<{XSD_I}> .',
    f'<http://ex/a3> <http://ex/p> "5"^^<{XSD_I}> .',
    f'<http://ex/a3> <http://ex/q> "6"^^<{XSD_I}> .',
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fopstore"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def rows(store, q):
    return sorted(tuple(r) for r in execute(store, q).collect())


def test_in_with_arithmetic_lhs_solves_for_var(store):
    # ?p + 1 IN (13, 18)  ⇔  ?p IN (12, 17) — previously the offset
    # was silently dropped and the query matched nothing
    got = rows(store, """
        SELECT ?s WHERE {
          ?s <http://ex/price> ?p . FILTER(?p + 1 IN (13, 18)) }""")
    assert got == [("http://ex/i1",), ("http://ex/i2",)]


def test_not_in_with_arithmetic_lhs(store):
    got = rows(store, """
        SELECT ?s WHERE {
          ?s <http://ex/price> ?p . FILTER(?p - 2 NOT IN (10, 21)) }""")
    assert got == [("http://ex/i2",)]


def test_str_in_list(store):
    got = rows(store, """
        SELECT ?s WHERE {
          ?s <http://ex/name> ?n . FILTER(STR(?n) IN ("alpha", "x")) }""")
    assert got == [("http://ex/i1",)]


def test_in_list_numeric_and_term_mixed(store):
    # a plain literal member and a numeric member in one list — the
    # numeric leg is a type error against ?n (string) and contributes
    # nothing
    got = rows(store, """
        SELECT ?s WHERE {
          ?s <http://ex/name> ?n . FILTER(?n IN ("alpha", 7)) }""")
    assert got == [("http://ex/i1",)]


def test_in_arithmetic_vs_term_is_type_error(store):
    got = rows(store, """
        SELECT ?s WHERE {
          ?s <http://ex/price> ?p . FILTER(?p + 1 IN (<http://ex/i1>)) }""")
    assert got == []


def test_unary_minus_lhs(store):
    # -?p < -15  ⇔  ?p > 15
    got = rows(store, """
        SELECT ?s WHERE {
          ?s <http://ex/price> ?p . FILTER(-?p < -15) }""")
    assert got == [("http://ex/i2",), ("http://ex/i3",)]


def test_unary_minus_rhs_constant_left(store):
    # -20 > -?p  ⇔  ?p > 20
    got = rows(store, """
        SELECT ?s WHERE {
          ?s <http://ex/price> ?p . FILTER(-20 > -?p) }""")
    assert got == [("http://ex/i3",)]


def test_unary_minus_parenthesized_offset(store):
    # -(?p + 3) < -20  ⇔  ?p > 17
    got = rows(store, """
        SELECT ?s WHERE {
          ?s <http://ex/price> ?p . FILTER(-(?p + 3) < -20) }""")
    assert got == [("http://ex/i3",)]


def test_unary_minus_both_sides_var(store):
    # -?pa >= -?pb  ⇔  ?pa <= ?pb — self-join keeps every subject
    got = rows(store, """
        SELECT ?a WHERE {
          ?a <http://ex/price> ?pa . ?a <http://ex/price> ?pb .
          FILTER(-?pa >= -?pb) }""")
    assert got == [("http://ex/i1",), ("http://ex/i2",), ("http://ex/i3",)]


def test_bind_unary_minus(store):
    # computed numerics render with the engine's decimal convention,
    # same as every other arithmetic BIND
    got = rows(store, """
        SELECT ?s ?m WHERE {
          ?s <http://ex/price> ?p . BIND(-?p AS ?m)
          FILTER(?m = -12) }""")
    assert got == [("http://ex/i1", "-12.0")]


def test_in_pushes_to_scan(store):
    # the expanded Or of equality filters stays a plain column
    # predicate — no join, no UDF in the plan
    df = execute(store, """
        SELECT ?s WHERE {
          ?s <http://ex/price> ?p . FILTER(?p + 1 IN (13, 18)) }""")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def _pair_subjects(store, cond):
    return [r[0] for r in rows(store, f"""
        SELECT ?s WHERE {{ ?s <http://ex/p> ?a . ?s <http://ex/q> ?b .
          FILTER({cond}) }}""")]


@pytest.mark.parametrize(
    "cond", ["?a = ?b + 0", "?a + 1 = ?b + 1", "?a - 0 = ?b", "?a + 0 = ?b"]
)
def test_arithmetic_on_iri_is_a_type_error(store, cond):
    # numeric comparison: a1's IRIs have no numeric value, so only the
    # equal numbers of a2 match
    assert _pair_subjects(store, cond) == ["http://ex/a2"]


def test_plain_var_equality_is_term_equality(store):
    assert _pair_subjects(store, "?a = ?b") == ["http://ex/a1", "http://ex/a2"]
