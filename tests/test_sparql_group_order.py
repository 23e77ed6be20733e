"""A group's elements evaluate in written order, as the SPARQL 1.1
§18.2.2 algebra: adjacent triple patterns are one BGP, OPTIONAL is a
LeftJoin over the elements before it, VALUES and subqueries are Joins
at their position, and a FILTER inside a nested braced, GRAPH or UNION
group sees only that group's variables (an outer one is unbound
there). Expected rows are derived by hand from §18.2.2.

Also: DESCRIBE evaluates any non-empty WHERE group, including one with
no triple pattern at its top level.
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

# the rows of tests/test_sparql_r2.py
NQ = [
    # states: s1 capital-with-type, s2 capital-without-type, s3 none
    "<http://ex/s1> <http://ex/state> <http://ex/yes> .",
    "<http://ex/s2> <http://ex/state> <http://ex/yes> .",
    "<http://ex/s3> <http://ex/state> <http://ex/yes> .",
    "<http://ex/s1> <http://ex/capital> <http://ex/c1> .",
    "<http://ex/c1> <http://ex/type> <http://ex/City> .",
    "<http://ex/s2> <http://ex/capital> <http://ex/c2> .",
    # items with/without prices
    "<http://ex/i1> <http://ex/item> <http://ex/yes> .",
    '<http://ex/i1> <http://ex/price> "50"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    "<http://ex/i2> <http://ex/item> <http://ex/yes> .",
    '<http://ex/i2> <http://ex/price> "150"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    "<http://ex/i3> <http://ex/item> <http://ex/yes> .",
    # knows chain a→b→c→d (graph g1) + one extra edge only in g2
    "<http://ex/a> <http://ex/knows> <http://ex/b> <http://ex/g1> .",
    "<http://ex/b> <http://ex/knows> <http://ex/c> <http://ex/g1> .",
    "<http://ex/c> <http://ex/knows> <http://ex/d> <http://ex/g1> .",
    "<http://ex/d> <http://ex/knows> <http://ex/e> <http://ex/g2> .",
    # seq path: a likes x, x partOf y
    "<http://ex/a> <http://ex/likes> <http://ex/x> .",
    "<http://ex/x> <http://ex/partOf> <http://ex/y> .",
    # mixed-kind objects for the type tests
    "<http://ex/m> <http://ex/val> <http://ex/anIri> .",
    '<http://ex/m> <http://ex/val> "plain" .',
    '<http://ex/m> <http://ex/val> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    "<http://ex/m> <http://ex/val> _:bn1 .",
    # names for regex / str / lang
    '<http://ex/a> <http://ex/name> "Alice" .',
    '<http://ex/b> <http://ex/name> "Bob"@en .',
    '<http://ex/c> <http://ex/name> "ALINE" .',
]
PFX = "PREFIX ex: <http://ex/> "
ITEMS = ["http://ex/i1", "http://ex/i2", "http://ex/i3"]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("grouporderstore"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def rows(store, q):
    return sorted(tuple(r) for r in execute(store, PFX + q).collect())


def m_vals(store):
    return [r[0] for r in rows(store, "SELECT ?p WHERE { ex:m ex:val ?p }")]


def test_values_before_optional_joins_first(store):
    # LeftJoin(Join(VALUES, BGP), OPTIONAL): (i1, 999) has no price
    # 999, so the OPTIONAL leaves it as it is
    got = rows(store, """SELECT ?i ?p WHERE {
        VALUES ?p { 999 50 } ?i ex:item ex:yes .
        OPTIONAL { ?i ex:price ?p } }""")
    assert got == sorted((i, p) for i in ITEMS for p in ("50.0", "999.0"))


def test_subquery_before_optional_joins_first(store):
    got = rows(store, """SELECT ?i ?p WHERE {
        { SELECT ?p WHERE { ex:m ex:val ?p } }
        ?i ex:item ex:yes .
        OPTIONAL { ?i ex:price ?p } }""")
    vals = m_vals(store)
    assert len(vals) == 4
    assert got == sorted((i, p) for i in ITEMS for p in vals)


def test_pattern_after_optional_joins_its_result(store):
    # Join(LeftJoin(BGP, OPTIONAL), BGP): only i3's ?p is unbound after
    # the OPTIONAL, so only i3 is compatible with ex:m's values
    got = rows(store, """SELECT ?i ?p WHERE {
        ?i ex:item ex:yes . OPTIONAL { ?i ex:price ?p }
        ex:m ex:val ?p }""")
    assert got == sorted(("http://ex/i3", p) for p in m_vals(store))


def test_filter_in_braced_group_sees_only_its_vars(store):
    got = rows(store, """SELECT ?i ?v WHERE {
        ?i ex:price ?p . { ex:m ex:val ?v FILTER(?p > 100) } }""")
    assert got == []


def test_filter_in_union_branch_sees_only_its_vars(store):
    got = rows(store, """SELECT ?i ?v WHERE {
        ?i ex:price ?p .
        { ex:m ex:val ?v FILTER(?p > 100) } UNION { ex:a ex:name ?v } }""")
    assert got == [("http://ex/i1", "Alice"), ("http://ex/i2", "Alice")]


def test_filter_in_graph_group_sees_only_its_vars(store):
    got = rows(store, """SELECT ?i ?p WHERE {
        ?i ex:price ?p .
        GRAPH ex:g1 { ?x ex:knows ex:b FILTER(?p > 100) } }""")
    assert got == []


def test_describe_values_only_group(store):
    got = rows(store, "DESCRIBE ?x WHERE { VALUES ?x { ex:i1 } }")
    assert [t[:2] for t in got] == [
        ("http://ex/i1", "http://ex/item"),
        ("http://ex/i1", "http://ex/price"),
    ]


def test_describe_subquery_only_group(store):
    got = rows(store, """DESCRIBE ?x WHERE {
        { SELECT ?x WHERE { ?x ex:price ?p } } }""")
    assert [t[:2] for t in got] == [
        ("http://ex/i1", "http://ex/item"),
        ("http://ex/i1", "http://ex/price"),
        ("http://ex/i2", "http://ex/item"),
        ("http://ex/i2", "http://ex/price"),
    ]
