"""EXISTS in VALUE positions (§17.4.1.4 completes): BIND(EXISTS{…}
AS ?v), IF(EXISTS{…}, …) in BIND and FILTER. The boolean result
inlines onto the numeric 1.0/0.0 xsd:boolean space; each marker
attaches just before its BIND evaluates.
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
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("exbstore"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def rows(store, q):
    return sorted(tuple(r) for r in execute(store, q).collect())


def test_bind_exists_value(store):
    got = rows(store, """
        SELECT ?s ?e WHERE { ?s <http://ex/price> ?p .
          BIND(EXISTS { ?s <http://ex/name> ?n } AS ?e) }""")
    assert got == [
        ("http://ex/i1", "1.0"),
        ("http://ex/i2", "1.0"),
        ("http://ex/i3", "0.0"),
    ]


def test_bind_not_exists_value(store):
    got = rows(store, """
        SELECT ?s ?e WHERE { ?s <http://ex/price> ?p .
          BIND(NOT EXISTS { ?s <http://ex/name> ?n } AS ?e) }""")
    assert got == [
        ("http://ex/i1", "0.0"),
        ("http://ex/i2", "0.0"),
        ("http://ex/i3", "1.0"),
    ]


def test_bind_exists_filters_downstream(store):
    # the bound boolean participates in a later FILTER like any number
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/price> ?p .
          BIND(EXISTS { ?s <http://ex/name> ?n } AS ?e)
          FILTER(?e = 1) }""")
    assert got == [("http://ex/i1",), ("http://ex/i2",)]


def test_if_exists_in_bind(store):
    got = rows(store, """
        SELECT ?s ?t WHERE { ?s <http://ex/price> ?p .
          BIND(IF(EXISTS { ?s <http://ex/knows> ?o }, 10, 20) AS ?t) }""")
    assert got == [
        ("http://ex/i1", "10.0"),
        ("http://ex/i2", "20.0"),
        ("http://ex/i3", "20.0"),
    ]


def test_if_with_exists_conjunction_in_bind(store):
    got = rows(store, """
        SELECT ?s ?t WHERE { ?s <http://ex/price> ?p .
          BIND(IF(?p > 13 && EXISTS { ?s <http://ex/name> ?n }, 1, 0)
               AS ?t) }""")
    assert got == [
        ("http://ex/i1", "0.0"),  # name but p = 12
        ("http://ex/i2", "1.0"),
        ("http://ex/i3", "0.0"),  # p = 23 but no name
    ]


def test_filter_if_exists(store):
    got = rows(store, """
        SELECT ?s WHERE { ?s <http://ex/price> ?p .
          FILTER(IF(EXISTS { ?s <http://ex/name> ?n }, 1, 0)) }""")
    assert got == [("http://ex/i1",), ("http://ex/i2",)]


def test_bind_exists_arithmetic(store):
    # EXISTS inside arithmetic: e + 1
    got = rows(store, """
        SELECT ?s ?v WHERE { ?s <http://ex/price> ?p .
          BIND(EXISTS { ?s <http://ex/name> ?n } + 1 AS ?v) }""")
    assert got == [
        ("http://ex/i1", "2.0"),
        ("http://ex/i2", "2.0"),
        ("http://ex/i3", "1.0"),
    ]


def test_exists_in_bind_sees_earlier_bind(store):
    # the block is correlated through ?v, which the earlier BIND of the
    # same group produces: only i1's price is 12
    got = rows(store, """
        SELECT ?s ?x WHERE { ?s <http://ex/price> ?p .
          BIND(12 AS ?v)
          BIND(EXISTS { ?s <http://ex/price> ?v } AS ?x) }""")
    assert got == [
        ("http://ex/i1", "1.0"),
        ("http://ex/i2", "0.0"),
        ("http://ex/i3", "0.0"),
    ]


def test_exists_in_bind_before_the_bind_of_its_var(store):
    # swapped: ?v is not bound yet where the EXISTS evaluates, so it is
    # free inside the block and every item has some price
    got = rows(store, """
        SELECT ?s ?x WHERE { ?s <http://ex/price> ?p .
          BIND(EXISTS { ?s <http://ex/price> ?v } AS ?x)
          BIND(12 AS ?v) }""")
    assert got == [
        ("http://ex/i1", "1.0"),
        ("http://ex/i2", "1.0"),
        ("http://ex/i3", "1.0"),
    ]
