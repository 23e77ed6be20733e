"""SPARQL subset engine over an N-Quads-loaded store.

Replays the reference's quad-query corpus shapes
(reference: data/test-queries.rq:1-13 — GRAPH / FROM / bound+unbound
masks) plus BSBM-style modifiers (DISTINCT, FILTER, OPTIONAL, ORDER BY,
LIMIT — reference: examples/BSBMQueries.java:5-76) against a store
bulk-loaded from N-Quads text, end to end.
"""

import pytest
from pyspark.sql import functions as F

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute, parse
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

NQ = [
    # dbpedia-flavored fixture mirroring the reference corpus shape
    '<http://ex/Alabama> <http://ex/areaTotal> "135765.0"^^<http://www.w3.org/2001/XMLSchema#double> <http://ex/wiki/Alabama> .',
    '<http://ex/Alabama> <http://ex/name> "Alabama" <http://ex/wiki/Alabama> .',
    '<http://ex/Alabama> <http://ex/capital> <http://ex/Montgomery> <http://ex/wiki/Alabama> .',
    '<http://ex/Alaska> <http://ex/areaTotal> "1717856.0"^^<http://www.w3.org/2001/XMLSchema#double> <http://ex/wiki/Alaska> .',
    '<http://ex/Alaska> <http://ex/name> "Alaska" <http://ex/wiki/Alaska> .',
    '<http://ex/Arizona> <http://ex/areaTotal> "295234.0"^^<http://www.w3.org/2001/XMLSchema#double> <http://ex/wiki/Arizona> .',
    '<http://ex/Arizona> <http://ex/name> "Arizona" <http://ex/wiki/Arizona> .',
    '<http://ex/Montgomery> <http://ex/type> <http://ex/City> .',
    '<http://ex/Phoenix> <http://ex/type> <http://ex/City> .',
    '<http://ex/Arizona> <http://ex/capital> <http://ex/Phoenix> .',
    '<http://ex/Alabama> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex/State> .',
    '<http://ex/Alaska> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex/State> .',
    '<http://ex/Montgomery> <http://ex/label> "Montgomery"@en .',
    '<http://ex/Montgomery> <http://ex/label> "Montgomerie"@fr .',
    # custom (non-XSD) datatype — the reference corpus shape
    # (reference: data/test-queries.rq:3-8, dbpedia squareKilometre)
    '<http://ex/Alabama> <http://ex/areaSq> "135765.0"^^<http://ex/dt/squareKilometre> <http://ex/wiki/Alabama> .',
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sparqlstore"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_spo_mask_query(spark, store):
    out = execute(store, "SELECT ?p ?o WHERE { <http://ex/Alabama> ?p ?o }")
    got = rows(out)
    assert ("http://ex/name", "Alabama") in got
    assert ("http://ex/capital", "http://ex/Montgomery") in got
    assert len(got) == 5  # name, capital, areaTotal, rdf:type, areaSq


def test_graph_variable(spark, store):
    out = execute(
        store,
        "SELECT ?g ?o WHERE { GRAPH ?g { <http://ex/Alabama> <http://ex/name> ?o } }",
    )
    got = rows(out)
    assert got == {("conv:http://ex/wiki/Alabama", "Alabama")}


def test_from_named_graph(spark, store):
    out = execute(
        store,
        "SELECT ?s ?p ?o FROM <http://ex/wiki/Alaska> WHERE { ?s ?p ?o }",
    )
    assert len(rows(out)) == 2


def test_join_and_filter_numeric(spark, store):
    q = """
    SELECT ?state ?area WHERE {
      ?state <http://ex/name> ?n .
      ?state <http://ex/areaTotal> ?area .
      FILTER (?area > 200000)
    }
    """
    got = rows(execute(store, q))
    assert got == {
        ("http://ex/Alaska", "1717856.0"),
        ("http://ex/Arizona", "295234.0"),
    }


def test_optional(spark, store):
    q = """
    SELECT ?state ?cap WHERE {
      ?state <http://ex/areaTotal> ?a .
      OPTIONAL { ?state <http://ex/capital> ?cap }
    }
    """
    out = execute(store, q).toPandas()
    caps = dict(zip(out["state"], out["cap"]))
    assert caps["http://ex/Alabama"] == "http://ex/Montgomery"
    assert caps["http://ex/Alaska"] is None


def test_union(spark, store):
    q = """
    SELECT ?x WHERE {
      { ?x <http://ex/type> <http://ex/City> }
      UNION
      { ?x <http://ex/name> "Alaska" }
    }
    """
    got = rows(execute(store, q))
    assert got == {
        ("http://ex/Montgomery",),
        ("http://ex/Phoenix",),
        ("http://ex/Alaska",),
    }


def test_order_limit_distinct(spark, store):
    q = """
    SELECT DISTINCT ?n WHERE { ?s <http://ex/name> ?n }
    ORDER BY DESC(?n) LIMIT 2
    """
    out = [r["n"] for r in execute(store, q).collect()]
    assert out == ["Arizona", "Alaska"]


def test_filter_term_equality(spark, store):
    q = """
    SELECT ?s WHERE {
      ?s <http://ex/capital> ?c .
      FILTER (?c != <http://ex/Phoenix>)
    }
    """
    assert rows(execute(store, q)) == {("http://ex/Alabama",)}


def test_prefix_pname_and_a_keyword(spark, store):
    q = """
    PREFIX ex: <http://ex/>
    SELECT ?s WHERE { ?s a ex:State }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/Alabama",),
        ("http://ex/Alaska",),
    }


def test_lang_matches(spark, store):
    q = """
    PREFIX ex: <http://ex/>
    SELECT ?l WHERE {
      ex:Montgomery ex:label ?l .
      FILTER langMatches( lang(?l), 'en')
    }
    """
    assert rows(execute(store, q)) == {('"Montgomery"@en',)}
    q_any = q.replace("'en'", "'*'")
    assert len(rows(execute(store, q_any))) == 2


def test_var_vs_var_filter_with_offset(spark, store):
    # BSBM Q5 shape: ?a < (?b - const) between two numeric bindings
    q = """
    PREFIX ex: <http://ex/>
    SELECT ?s WHERE {
      ?s ex:areaTotal ?a .
      ex:Arizona ex:areaTotal ?b .
      FILTER (?a < (?b - 100000))
    }
    """
    assert rows(execute(store, q)) == {("http://ex/Alabama",)}


def test_constant_on_left_filter(spark, store):
    q = """
    PREFIX ex: <http://ex/>
    SELECT ?s ?a WHERE {
      ?s ex:areaTotal ?a .
      FILTER (200000 < ?a)
    }
    """
    got = {r[0] for r in rows(execute(store, q))}
    assert got == {"http://ex/Alaska", "http://ex/Arizona"}


def test_ask(spark, store):
    yes = execute(store, "ASK { <http://ex/Alabama> <http://ex/capital> ?c }")
    assert [r["ask"] for r in yes.collect()] == [True]
    no = execute(store, "ASK { <http://ex/Alaska> <http://ex/capital> ?c }")
    assert [r["ask"] for r in no.collect()] == [False]


def test_describe_iri(spark, store):
    out = rows(execute(store, "DESCRIBE <http://ex/Alabama>"))
    assert ("http://ex/Alabama", "http://ex/name", "Alabama") in out
    assert (
        "http://ex/Alabama", "http://ex/capital", "http://ex/Montgomery"
    ) in out
    assert len(out) == 5  # name, capital, areaTotal, rdf:type, areaSq


def test_describe_where(spark, store):
    q = """
    PREFIX ex: <http://ex/>
    DESCRIBE ?x WHERE { ?x ex:capital ex:Phoenix }
    """
    out = rows(execute(store, q))
    assert all(s == "http://ex/Arizona" for s, _, _ in out)
    assert len(out) == 3  # name, capital, areaTotal


def test_aggregates_group_by(spark, store):
    q = """
    PREFIX ex: <http://ex/>
    SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o }
    GROUP BY ?s ORDER BY DESC(?n) ?s
    """
    out = [(r["s"], r["n"]) for r in execute(store, q).collect()]
    assert out[0] == ("http://ex/Alabama", 5)
    assert dict(out)["http://ex/Montgomery"] == 3  # type + 2 labels


def test_custom_datatype_literal_bound_object(spark, store):
    """Replays the reference's quad-query masks with a typed-literal
    constant in the object position (test-queries.rq lines 3-8): a
    non-XSD datatype must round-trip store→query."""
    lit = '"135765.0"^^<http://ex/dt/squareKilometre>'
    q = f"SELECT ?s WHERE {{ ?s <http://ex/areaSq> {lit} }}"
    assert rows(execute(store, q)) == {("http://ex/Alabama",)}
    q2 = f"SELECT ?s ?p WHERE {{ ?s ?p {lit} }}"
    assert rows(execute(store, q2)) == {("http://ex/Alabama", "http://ex/areaSq")}
    q3 = f"SELECT ?g ?p WHERE {{ GRAPH ?g {{ <http://ex/Alabama> ?p {lit} }} }}"
    assert rows(execute(store, q3)) == {
        ("conv:http://ex/wiki/Alabama", "http://ex/areaSq")
    }
    # wrong datatype must NOT match
    q4 = 'SELECT ?s WHERE { ?s <http://ex/areaSq> "135765.0"^^<http://ex/dt/other> }'
    assert rows(execute(store, q4)) == set()


def test_group_concat_and_sample(spark, store):
    q = """
    PREFIX ex: <http://ex/>
    SELECT ?s (GROUP_CONCAT(?o) AS ?os) (SAMPLE(?o) AS ?one)
    WHERE { ?s ex:label ?o } GROUP BY ?s
    """
    r = execute(store, q).collect()
    assert len(r) == 1
    row = r[0]
    assert row["s"] == "http://ex/Montgomery"
    # deterministic: members sorted; SAMPLE = minimum
    assert row["os"] == '"Montgomerie"@fr "Montgomery"@en'
    assert row["one"] == '"Montgomerie"@fr'


def test_having(spark, store):
    q = """
    PREFIX ex: <http://ex/>
    SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o }
    GROUP BY ?s HAVING (?n >= 3) ORDER BY ?s
    """
    out = {(r["s"], r["n"]) for r in execute(store, q).collect()}
    assert ("http://ex/Alabama", 5) in out
    assert ("http://ex/Montgomery", 3) in out
    assert all(n >= 3 for _, n in out)


def test_aggregates_global(spark, store):
    q = """
    PREFIX ex: <http://ex/>
    SELECT (AVG(?a) AS ?avg) (COUNT(?a) AS ?n) WHERE { ?s ex:areaTotal ?a }
    """
    r = execute(store, q).collect()[0]
    assert r["n"] == 3
    assert abs(r["avg"] - (135765.0 + 1717856.0 + 295234.0) / 3) < 1e-6


def test_offset_pagination(spark, store):
    q = "SELECT ?n WHERE { ?s <http://ex/name> ?n } ORDER BY ?n LIMIT 2"
    page1 = [r["n"] for r in execute(store, q).collect()]
    q2 = q.replace("LIMIT 2", "LIMIT 2 OFFSET 2")
    page2 = [r["n"] for r in execute(store, q2).collect()]
    assert page1 == ["Alabama", "Alaska"]
    assert page2 == ["Arizona"]


def test_construct(spark, store):
    q = """
    PREFIX ex: <http://ex/>
    CONSTRUCT { ?s ex:capitalOf ?state . ?state ex:hasCapital ?s }
    WHERE { ?state ex:capital ?s }
    """
    got = rows(execute(store, q))
    assert got == {
        ("http://ex/Montgomery", "http://ex/capitalOf", "http://ex/Alabama"),
        ("http://ex/Alabama", "http://ex/hasCapital", "http://ex/Montgomery"),
        ("http://ex/Phoenix", "http://ex/capitalOf", "http://ex/Arizona"),
        ("http://ex/Arizona", "http://ex/hasCapital", "http://ex/Phoenix"),
    }


def test_property_path_plus(spark, store):
    # Montgomery --locatedIn--> Alabama is not in the fixture; use the
    # capital chain: no multi-hop capital edges exist, so build the test
    # on rdf:type? Instead: reachability over ex:capital is 1 hop; the
    # closure must equal the direct edges.
    q = """
    PREFIX ex: <http://ex/>
    SELECT ?s ?t WHERE { ?s ex:capital+ ?t }
    """
    got = rows(execute(store, q))
    assert got == {
        ("http://ex/Alabama", "http://ex/Montgomery"),
        ("http://ex/Arizona", "http://ex/Phoenix"),
    }


def test_property_path_plus_multihop(spark, tmp_path_factory):
    # dedicated store with a 4-node chain + cycle
    nq = [
        "<http://x/a> <http://x/next> <http://x/b> .",
        "<http://x/b> <http://x/next> <http://x/c> .",
        "<http://x/c> <http://x/next> <http://x/d> .",
        "<http://x/d> <http://x/next> <http://x/b> .",  # cycle d->b
    ]
    root = str(tmp_path_factory.mktemp("pathstore"))
    lines = spark.createDataFrame([(l,) for l in nq], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "p")
    st.write_indexes(encode_quads(resolved), "p")

    got = rows(execute(
        st, "SELECT ?y WHERE { <http://x/a> <http://x/next>+ ?y }"
    ))
    assert got == {("http://x/b",), ("http://x/c",), ("http://x/d",)}

    # bound both ends: 3-hop reachability through the chain
    ask = execute(
        st, "ASK { <http://x/a> <http://x/next>+ <http://x/d> }"
    ).collect()[0]["ask"]
    assert ask is True
    # cycle does not diverge and closes b->b
    got_cycle = rows(execute(
        st, "SELECT ?y WHERE { <http://x/b> <http://x/next>+ ?y }"
    ))
    assert got_cycle == {("http://x/b",), ("http://x/c",), ("http://x/d",)}

    # zero-or-more includes the start node itself
    got_star = rows(execute(
        st, "SELECT ?y WHERE { <http://x/a> <http://x/next>* ?y }"
    ))
    assert got_star == {
        ("http://x/a",), ("http://x/b",), ("http://x/c",), ("http://x/d",)
    }

    # zero-or-one via the Bgp API ('?' clashes with var syntax in text)
    from hbase_rdf_spark.plans.bgp import Bgp, Path, execute_bgp, materialize

    zero_or_one = Path("mod", (Path("atom", iri="http://x/next"),), mod="?")
    res = execute_bgp(st, [Bgp("http://x/a", zero_or_one, "?y")])
    got_opt = {r["y"] for r in materialize(res, st, ["?y"]).collect()}
    assert got_opt == {"http://x/a", "http://x/b"}


def test_parse_errors():
    with pytest.raises(Exception):
        parse("SELECT ?x WHERE { ?x }")
    with pytest.raises(Exception):
        parse("SELECT ?x WHERE { ?x ?p ?o VALUES ?y { ?z } }")  # var in VALUES
    with pytest.raises(Exception):
        parse("PREFIX ex <http://ex/> SELECT ?x WHERE { ?x ex:p ?y }")


# -- dataset clauses: multiple FROM / FROM NAMED (SPARQL 1.1 §13.2) ------


def test_from_merge_two_graphs(spark, store):
    out = execute(
        store,
        """SELECT ?o FROM <http://ex/wiki/Alabama> FROM <http://ex/wiki/Alaska>
           WHERE { ?s <http://ex/name> ?o }""",
    )
    assert rows(out) == {("Alabama",), ("Alaska",)}


def test_from_named_restricts_graph_iteration(spark, store):
    out = execute(
        store,
        """SELECT ?g ?o FROM NAMED <http://ex/wiki/Alabama>
           WHERE { GRAPH ?g { ?s <http://ex/name> ?o } }""",
    )
    assert rows(out) == {("conv:http://ex/wiki/Alabama", "Alabama")}


def test_from_named_only_default_graph_is_empty(spark, store):
    out = execute(
        store,
        """SELECT ?o FROM NAMED <http://ex/wiki/Alabama>
           WHERE { ?s <http://ex/name> ?o }""",
    )
    assert rows(out) == set()


def test_from_without_named_empties_graph_clause(spark, store):
    out = execute(
        store,
        """SELECT ?g ?o FROM <http://ex/wiki/Alabama>
           WHERE { GRAPH ?g { ?s <http://ex/name> ?o } }""",
    )
    assert rows(out) == set()


def test_graph_constant_outside_from_named(spark, store):
    out = execute(
        store,
        """SELECT ?o FROM NAMED <http://ex/wiki/Alabama>
           WHERE { GRAPH <http://ex/wiki/Alaska> { ?s <http://ex/name> ?o } }""",
    )
    assert rows(out) == set()


def test_graph_constant_inside_from_named(spark, store):
    out = execute(
        store,
        """SELECT ?o FROM NAMED <http://ex/wiki/Alaska>
           WHERE { GRAPH <http://ex/wiki/Alaska> { ?s <http://ex/name> ?o } }""",
    )
    assert rows(out) == {("Alaska",)}


def test_from_merge_with_named_combo(spark, store):
    # FROM scopes the default-graph pattern to the merge while FROM
    # NAMED independently scopes the GRAPH clause
    out = execute(
        store,
        """SELECT ?n ?g
           FROM <http://ex/wiki/Alabama> FROM NAMED <http://ex/wiki/Alaska>
           WHERE { ?s <http://ex/name> ?n .
                   GRAPH ?g { ?t <http://ex/name> "Alaska" } }""",
    )
    assert rows(out) == {("Alabama", "conv:http://ex/wiki/Alaska")}
