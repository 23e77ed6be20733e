"""Literal parsing in query patterns — parser only, no SparkSession.

Constants in a pattern must parse to the same form the scan side
stores (sources/ntriples.py): xsd:boolean and the numeric XSD types
inline to kind-2 numerics, an ill-typed numeric lexical stays a kind-1
string literal.
"""

from hbase_rdf_spark.plans.sparql import parse


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
