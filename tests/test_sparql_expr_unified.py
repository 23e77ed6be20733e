"""One expression grammar everywhere: HAVING takes whatever a
post-aggregation SELECT expression takes, and the trailing-VALUES merge
keeps the bound side (§8.3).

Groups (hand-checked):
  g1: n = 1, 2, 9  → SUM 12, AVG 4,  COUNT 3
  g2: n = 5        → SUM 5,  AVG 5,  COUNT 1
  g3: n = -4, -2   → SUM -6, AVG -3, COUNT 2
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

XSD_I = "http://www.w3.org/2001/XMLSchema#integer"

NQ = [
    f'<http://ex/g1> <http://ex/n> "1"^^<{XSD_I}> .',
    f'<http://ex/g1> <http://ex/n> "2"^^<{XSD_I}> .',
    f'<http://ex/g1> <http://ex/n> "9"^^<{XSD_I}> .',
    f'<http://ex/g2> <http://ex/n> "5"^^<{XSD_I}> .',
    f'<http://ex/g3> <http://ex/n> "-4"^^<{XSD_I}> .',
    f'<http://ex/g3> <http://ex/n> "-2"^^<{XSD_I}> .',
    '<http://ex/g1> <http://ex/tag> "a" .',
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


def test_having_accepts_post_aggregation_expressions(store):
    # aggregate vs aggregate, and arithmetic over an aggregate
    got = rows(store, """
        SELECT ?g WHERE { ?g <http://ex/n> ?n } GROUP BY ?g
        HAVING (SUM(?n) > AVG(?n))""")
    assert got == [("http://ex/g1",)]
    got = rows(store, """
        SELECT ?g (COUNT(*) AS ?c) WHERE { ?g <http://ex/n> ?n }
        GROUP BY ?g HAVING (COUNT(*) * 2 > 3)""")
    assert got == [("http://ex/g1", 3), ("http://ex/g3", 2)]


def test_trailing_values_binds_unbound_solution_var(store):
    # g2 has no tag, so ?t is unbound and adopts the VALUES cell; g1's
    # bound "a" is incompatible with "zz"
    got = rows(store, """
        SELECT ?g ?t WHERE { ?g <http://ex/n> ?n .
          FILTER(?n = 5 || ?n = 1)
          OPTIONAL { ?g <http://ex/tag> ?tag } BIND(STR(?tag) AS ?t) }
        VALUES ?t { "zz" }""")
    assert got == [("http://ex/g2", "zz")]


def test_trailing_values_integral_cell_renders_as_integer(store):
    got = rows(store, """
        SELECT ?g ?k WHERE { ?g <http://ex/n> 5 . BIND(1 AS ?one) }
        VALUES (?one ?k) { (1 7) }""")
    assert got == [("http://ex/g2", "7")]
