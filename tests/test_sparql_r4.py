"""Round-4 regression tests for the r3 ADVICE findings.

Covers: (1) path-closure convergence when the closure reaches a
numeric-literal endpoint at depth >= 2 (NULL b id, needs a null-safe
anti-join key) and (2) the SPARQL 1.1 section 13.2 default-graph RDF
merge — a ground triple asserted in two FROM graphs yields ONE
solution, for plain scans and for property-path atoms.
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

NQ = [
    # linear chain ending in a numeric literal at depth 3 from m0
    "<http://ex/m0> <http://ex/val> <http://ex/m1> .",
    "<http://ex/m1> <http://ex/val> <http://ex/m2> .",
    f'<http://ex/m2> <http://ex/val> "5"^^<{XSD_INT}> .',
    # ground triple asserted in BOTH g1 and g2 (RDF-merge dedup target)
    "<http://ex/s> <http://ex/p> <http://ex/o> <http://ex/g1> .",
    "<http://ex/s> <http://ex/p> <http://ex/o> <http://ex/g2> .",
    # triple only in g1
    "<http://ex/s> <http://ex/p> <http://ex/only1> <http://ex/g1> .",
    # chain crossing the two graphs, with the middle hop in both
    "<http://ex/c0> <http://ex/n> <http://ex/c1> <http://ex/g1> .",
    "<http://ex/c1> <http://ex/n> <http://ex/c2> <http://ex/g1> .",
    "<http://ex/c1> <http://ex/n> <http://ex/c2> <http://ex/g2> .",
    "<http://ex/c2> <http://ex/n> <http://ex/c3> <http://ex/g2> .",
    # score groups for arbitrary-HAVING tests:
    #   h1: count 3, sum 6,  min 1 | h2: count 2, sum 12, min 5
    #   h3: count 1, sum 10, min 10
    f'<http://ex/h1> <http://ex/score> "1"^^<{XSD_INT}> .',
    f'<http://ex/h1> <http://ex/score> "2"^^<{XSD_INT}> .',
    f'<http://ex/h1> <http://ex/score> "3"^^<{XSD_INT}> .',
    f'<http://ex/h2> <http://ex/score> "5"^^<{XSD_INT}> .',
    f'<http://ex/h2> <http://ex/score> "7"^^<{XSD_INT}> .',
    f'<http://ex/h3> <http://ex/score> "10"^^<{XSD_INT}> .',
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sparqlr4store"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def test_path_closure_numeric_endpoint_converges(store):
    """ADVICE r3 (high): <p>+ reaching a numeric literal at depth >= 2
    produces pairs with NULL b ids; a null-unsafe [a, b] anti-join never
    dedups them and the loop hits PATH_MAX_ITERS. Must converge and
    return the literal exactly once."""
    out = execute(
        store,
        "SELECT ?y WHERE { <http://ex/m0> <http://ex/val>+ ?y }",
    )
    got = [r[0] for r in out.collect()]
    iris = sorted(v for v in got if isinstance(v, str) and v.startswith("http"))
    nums = [float(v) for v in got if not (isinstance(v, str) and v.startswith("http"))]
    assert iris == ["http://ex/m1", "http://ex/m2"]
    assert nums == [5.0]


def test_path_closure_numeric_endpoint_star(store):
    out = execute(
        store,
        "SELECT ?y WHERE { <http://ex/m1> <http://ex/val>* ?y }",
    )
    got = [r[0] for r in out.collect()]
    iris = sorted(v for v in got if isinstance(v, str) and v.startswith("http"))
    nums = [float(v) for v in got if not (isinstance(v, str) and v.startswith("http"))]
    assert iris == ["http://ex/m1", "http://ex/m2"]
    assert nums == [5.0]


def test_from_merge_ground_triple_once(store):
    """ADVICE r3 (medium): SPARQL 1.1 section 13.2 — the default graph
    of a dataset clause is the RDF MERGE of the FROM graphs (set union
    for ground triples). Non-DISTINCT select must not double-count."""
    out = execute(
        store,
        """SELECT ?o FROM <http://ex/g1> FROM <http://ex/g2>
           WHERE { <http://ex/s> <http://ex/p> ?o }""",
    )
    got = sorted(r[0] for r in out.collect())
    assert got == ["http://ex/o", "http://ex/only1"]


def test_from_merge_aggregate_not_doubled(store):
    out = execute(
        store,
        """SELECT (COUNT(?o) AS ?n) FROM <http://ex/g1> FROM <http://ex/g2>
           WHERE { <http://ex/s> <http://ex/p> ?o }""",
    )
    assert [int(r[0]) for r in out.collect()] == [2]


def test_from_merge_path_atom_once(store):
    """Path atoms over the merged default graph: the c1->c2 hop exists
    in both FROM graphs but contributes ONE edge, so each reachable
    node appears exactly once (closure already set-dedups; the seq-path
    single-hop join is where a doubled edge would duplicate rows)."""
    out = execute(
        store,
        """SELECT ?y FROM <http://ex/g1> FROM <http://ex/g2>
           WHERE { <http://ex/c0> <http://ex/n>/<http://ex/n> ?y }""",
    )
    got = sorted(r[0] for r in out.collect())
    assert got == ["http://ex/c2"]
    out2 = execute(
        store,
        """SELECT ?y FROM <http://ex/g1> FROM <http://ex/g2>
           WHERE { <http://ex/c0> <http://ex/n>+ ?y }""",
    )
    got2 = sorted(r[0] for r in out2.collect())
    assert got2 == ["http://ex/c1", "http://ex/c2", "http://ex/c3"]


# -- property paths inside OPTIONAL / GRAPH / UNION (VERDICT r3 #3/#7) ------


def test_path_plus_inside_optional(store):
    """OPTIONAL { ?x <p>+ ?y }: reachable rows bind, unmatched subjects
    survive with ?y unbound (left-join semantics over the closure)."""
    out = execute(
        store,
        """SELECT ?x ?y WHERE {
             ?x <http://ex/val> ?z .
             OPTIONAL { ?x <http://ex/val>+ ?y .
                        FILTER (?y = <http://ex/m2>) }
           }""",
    )
    got = {(r[0], r[1]) for r in out.collect()}
    assert got == {
        ("http://ex/m0", "http://ex/m2"),
        ("http://ex/m1", "http://ex/m2"),
        ("http://ex/m2", None),
    }


def test_path_seq_inside_graph_constant(store):
    out = execute(
        store,
        """SELECT ?y WHERE {
             GRAPH <http://ex/g1> { <http://ex/c0> <http://ex/n>/<http://ex/n> ?y }
           }""",
    )
    assert sorted(r[0] for r in out.collect()) == ["http://ex/c2"]


def test_path_plus_inside_graph_var(store):
    """GRAPH ?g { ?x <n>+ ?y }: the closure is evaluated PER NAMED
    GRAPH — c0 reaches c2 inside g1 (two hops both asserted in g1) but
    never c3 (the c2->c3 hop exists only in g2; a path may not cross
    graphs), and ?g binds to the graph that carried the path."""
    out = execute(
        store,
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <http://ex/n>+ ?y } }",
    )
    got = {(r[0], r[1], r[2]) for r in out.collect()}
    assert got == {
        ("conv:http://ex/g1", "http://ex/c0", "http://ex/c1"),
        ("conv:http://ex/g1", "http://ex/c0", "http://ex/c2"),
        ("conv:http://ex/g1", "http://ex/c1", "http://ex/c2"),
        ("conv:http://ex/g2", "http://ex/c1", "http://ex/c2"),
        ("conv:http://ex/g2", "http://ex/c1", "http://ex/c3"),
        ("conv:http://ex/g2", "http://ex/c2", "http://ex/c3"),
    }


def test_path_star_inside_graph_var_zero_length(store):
    """<n>* inside GRAPH ?g: zero-length endpoints come from each
    graph's own node set (a node in both graphs is an endpoint twice,
    once per graph binding)."""
    out = execute(
        store,
        """SELECT ?g ?y WHERE {
             GRAPH ?g { <http://ex/c1> <http://ex/n>* ?y } }""",
    )
    got = {(r[0], r[1]) for r in out.collect()}
    assert ("conv:http://ex/g1", "http://ex/c1") in got
    assert ("conv:http://ex/g2", "http://ex/c1") in got
    assert ("conv:http://ex/g1", "http://ex/c2") in got
    assert ("conv:http://ex/g2", "http://ex/c3") in got
    # no cross-graph leak: c3 is never reachable within g1
    assert ("conv:http://ex/g1", "http://ex/c3") not in got


def test_path_inside_graph_var_respects_from_named(store):
    """FROM NAMED restricts which graphs GRAPH ?g iterates — the g2
    rows must vanish when only g1 is named (VERDICT r3 #7 matrix)."""
    out = execute(
        store,
        """SELECT ?g ?x ?y FROM NAMED <http://ex/g1>
           WHERE { GRAPH ?g { ?x <http://ex/n>+ ?y } }""",
    )
    got = {(r[0], r[1], r[2]) for r in out.collect()}
    assert got == {
        ("conv:http://ex/g1", "http://ex/c0", "http://ex/c1"),
        ("conv:http://ex/g1", "http://ex/c0", "http://ex/c2"),
        ("conv:http://ex/g1", "http://ex/c1", "http://ex/c2"),
    }


def test_path_inside_graph_constant_outside_from_named_empty(store):
    out = execute(
        store,
        """SELECT ?y FROM NAMED <http://ex/g1>
           WHERE { GRAPH <http://ex/g2> { <http://ex/c1> <http://ex/n>+ ?y } }""",
    )
    assert out.count() == 0


def test_path_inside_union_branch(store):
    out = execute(
        store,
        """SELECT ?y WHERE {
             { <http://ex/m0> <http://ex/val>/<http://ex/val> ?y }
             UNION { <http://ex/m0> <http://ex/missing> ?y } }""",
    )
    assert sorted(r[0] for r in out.collect()) == ["http://ex/m2"]


def test_inverse_path_inside_graph_var(store):
    """``?x ^n c2`` ⟺ ``c2 n ?x`` — only g2 asserts an outgoing n-edge
    from c2 (c2→c3), so ?x = c3 bound under g2 alone."""
    out = execute(
        store,
        "SELECT ?g ?x WHERE { GRAPH ?g { ?x ^<http://ex/n> <http://ex/c2> } }",
    )
    got = {(r[0], r[1]) for r in out.collect()}
    assert got == {("conv:http://ex/g2", "http://ex/c3")}


# -- arbitrary HAVING boolean expressions (VERDICT r3 #4) -------------------


def test_having_and_of_two_aggregates(store):
    out = execute(
        store,
        """SELECT ?s WHERE { ?s <http://ex/score> ?v }
           GROUP BY ?s HAVING (COUNT(?v) > 2 && MIN(?v) < 10)""",
    )
    assert [r[0] for r in out.collect()] == ["http://ex/h1"]


def test_having_or_mixing_agg_and_select_alias(store):
    out = execute(
        store,
        """SELECT ?s (SUM(?v) AS ?total) WHERE { ?s <http://ex/score> ?v }
           GROUP BY ?s HAVING (?total >= 12 || COUNT(?v) > 2)""",
    )
    got = {(r["s"], float(r["total"])) for r in out.collect()}
    assert got == {("http://ex/h1", 6.0), ("http://ex/h2", 12.0)}


def test_having_negation(store):
    out = execute(
        store,
        """SELECT ?s WHERE { ?s <http://ex/score> ?v }
           GROUP BY ?s HAVING (!(COUNT(?v) = 1))""",
    )
    assert sorted(r[0] for r in out.collect()) == [
        "http://ex/h1", "http://ex/h2",
    ]


def test_having_multiple_bracketed_conditions_conjoin(store):
    """SPARQL grammar rule [21]: HAVING HavingCondition+ — two
    bracketed conditions are an implicit conjunction."""
    out = execute(
        store,
        """SELECT ?s WHERE { ?s <http://ex/score> ?v }
           GROUP BY ?s HAVING (COUNT(?v) > 1) (MIN(?v) < 5)""",
    )
    assert [r[0] for r in out.collect()] == ["http://ex/h1"]


def test_having_nested_parens(store):
    out = execute(
        store,
        """SELECT ?s WHERE { ?s <http://ex/score> ?v }
           GROUP BY ?s
           HAVING ((COUNT(?v) = 1 || MIN(?v) < 2) && SUM(?v) < 11)""",
    )
    assert sorted(r[0] for r in out.collect()) == [
        "http://ex/h1", "http://ex/h3",
    ]

