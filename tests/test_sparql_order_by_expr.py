"""ORDER BY expression keys beside SELECT expressions: both stage
together after the query is parsed — as Extends over the aggregated
frame in a grouped query (SPARQL 1.1 §18.2.4.4), as per-solution
Extends after the group otherwise — so a key may read a SELECT alias.
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
NQ = [
    f'<http://x/a> <http://x/price> "2"^^<{XSD_INT}> .',
    f'<http://x/a> <http://x/price> "7"^^<{XSD_INT}> .',
    f'<http://x/b> <http://x/price> "5"^^<{XSD_INT}> .',
    f'<http://x/c> <http://x/price> "1"^^<{XSD_INT}> .',
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("orderbyexpr"))
    lines = spark.createDataFrame([(line,) for line in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def test_grouped_order_key_reads_a_select_expression(store):
    out = execute(store, """
        SELECT ?s (SUM(?p) / 2 AS ?h) WHERE { ?s <http://x/price> ?p }
        GROUP BY ?s ORDER BY DESC(?h * -1)""")
    assert [(r["s"], float(r["h"])) for r in out.collect()] == [
        ("http://x/c", 0.5), ("http://x/b", 2.5), ("http://x/a", 4.5),
    ]


def test_ungrouped_order_key_reads_a_select_expression(store):
    out = execute(store, """
        SELECT ?s (?p * 2 AS ?d) WHERE { ?s <http://x/price> ?p }
        ORDER BY (?d * -1)""")
    assert [r["s"] for r in out.collect()] == [
        "http://x/a", "http://x/b", "http://x/a", "http://x/c",
    ]
