"""General value expressions in FILTER.

Every FILTER compiles through the one expression grammar and compiler
that BIND uses (plans/expr.py), so operands beyond a variable against
a constant — var-var arithmetic, IF/COALESCE values, bare
effective-boolean-value expressions — evaluate like ARQ's uniform
expression evaluation in the reference (SURVEY J12;
sail/HBaseQueryVisitor.java:289-313). §17.2.2 EBV: numerics (incl.
inlined xsd:booleans) are true iff non-zero, strings iff non-empty,
IRIs/unbound are a type error → row dropped.
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

XSD_I = "http://www.w3.org/2001/XMLSchema#integer"
XSD_B = "http://www.w3.org/2001/XMLSchema#boolean"

NQ = [
    f'<http://ex/i1> <http://ex/price> "12"^^<{XSD_I}> .',
    f'<http://ex/i2> <http://ex/price> "17"^^<{XSD_I}> .',
    f'<http://ex/i3> <http://ex/price> "23"^^<{XSD_I}> .',
    f'<http://ex/i1> <http://ex/qty> "10"^^<{XSD_I}> .',
    f'<http://ex/i2> <http://ex/qty> "2"^^<{XSD_I}> .',
    f'<http://ex/i3> <http://ex/qty> "1"^^<{XSD_I}> .',
    f'<http://ex/i1> <http://ex/flag> "true"^^<{XSD_B}> .',
    f'<http://ex/i2> <http://ex/flag> "false"^^<{XSD_B}> .',
    '<http://ex/i1> <http://ex/name> "alpha" .',
    '<http://ex/i2> <http://ex/name> "bete" .',
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("exprstore"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def rows(store, q):
    return sorted(tuple(r) for r in execute(store, q).collect())


def test_var_var_product(store):
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/price> ?p ; <http://ex/qty> ?q .
          FILTER(?p * ?q > 30) }""")
    assert got == [("http://ex/i1",), ("http://ex/i2",)]


def test_var_var_sum(store):
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/price> ?p ; <http://ex/qty> ?q .
          FILTER(?p + ?q >= 22) }""")
    assert got == [("http://ex/i1",), ("http://ex/i3",)]


def test_oppositely_signed_vars(store):
    # ?p > -?q + 20 — i1: 12 > 10, i2: 17 > 18 ✗, i3: 23 > 19
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/price> ?p ; <http://ex/qty> ?q .
          FILTER(?p > -?q + 20) }""")
    assert got == [("http://ex/i1",), ("http://ex/i3",)]


def test_strlen_inside_arithmetic(store):
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/name> ?n . ?s <http://ex/price> ?p .
          FILTER(STRLEN(?n) + ?p > 16) }""")
    assert got == [("http://ex/i1",), ("http://ex/i2",)]


def test_ebv_boolean_var(store):
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/flag> ?f . FILTER(?f) }""")
    assert got == [("http://ex/i1",)]
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/flag> ?f . FILTER(!?f) }""")
    assert got == [("http://ex/i2",)]


def test_ebv_if_expression(store):
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/price> ?p .
          FILTER(IF(?p > 15, 1, 0)) }""")
    assert got == [("http://ex/i2",), ("http://ex/i3",)]


def test_ebv_string_var_nonempty(store):
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/name> ?n . FILTER(?n) }""")
    assert got == [("http://ex/i1",), ("http://ex/i2",)]


def test_concat_equality(store):
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/name> ?n .
          FILTER(CONCAT(?n, "x") = "alphax") }""")
    assert got == [("http://ex/i1",)]


def test_ebv_inside_conjunction(store):
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/flag> ?f . ?s <http://ex/price> ?p .
          FILTER(?f && ?p > 5) }""")
    assert got == [("http://ex/i1",)]


def test_coalesce_of_optional_var_compares(store):
    # ?q never binds (inner filter removes all) → COALESCE(?q, 0) = 0
    got = rows(store, """
        SELECT ?s ?q WHERE { ?s <http://ex/price> ?p .
          OPTIONAL { ?s <http://ex/qty> ?q . FILTER(?q > 100) }
          FILTER(COALESCE(?q, 0) = 0) }""")
    assert got == [
        ("http://ex/i1", None), ("http://ex/i2", None),
        ("http://ex/i3", None),
    ]
