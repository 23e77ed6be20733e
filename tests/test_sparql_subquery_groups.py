"""Full-algebra subquery WHERE bodies (round 4): UNION / VALUES /
BIND / MINUS / FILTER EXISTS / nested subqueries inside
``{ SELECT … }``.

The reference inherits these for free from ARQ/Sesame (a SubSelect's
WHERE is an ordinary GroupGraphPattern — sail/HBaseSailConnection.java
evaluates the full parse tree). ``_execute_subquery`` evaluates the
body with ``_group_bindings`` (the same evaluator as a top-level
WHERE and every nested group), then the subquery's own modifiers
(aggregates / DISTINCT / ORDER+LIMIT) apply on top.
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

NQ = [
    "<http://ex/a> <http://ex/follows> <http://ex/b> .",
    "<http://ex/a> <http://ex/likes> <http://ex/c> .",
    "<http://ex/b> <http://ex/follows> <http://ex/c> .",
    "<http://ex/c> <http://ex/likes> <http://ex/a> .",
    "<http://ex/a> <http://ex/name> \"Alice\" .",
    "<http://ex/b> <http://ex/name> \"Bob\" .",
    "<http://ex/c> <http://ex/name> \"Cara\" .",
    "<http://ex/b> <http://ex/banned> <http://ex/y> .",
    '<http://ex/a> <http://ex/score> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://ex/b> <http://ex/score> "12"^^<http://www.w3.org/2001/XMLSchema#integer> .',
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sparqlr4cstore"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def test_subquery_union_body_aggregate(store):
    """COUNT over the union of two edge sets, per subject."""
    out = execute(
        store,
        """SELECT ?s ?n WHERE {
             ?s <http://ex/name> ?nm .
             { SELECT ?s (COUNT(?o) AS ?n) WHERE {
                 { ?s <http://ex/follows> ?o }
                 UNION { ?s <http://ex/likes> ?o }
               } GROUP BY ?s }
           }""",
    )
    got = sorted((r["s"], float(r["n"])) for r in out.collect())
    assert got == [
        ("http://ex/a", 2.0),
        ("http://ex/b", 1.0),
        ("http://ex/c", 1.0),
    ]


def test_subquery_union_body_select_star(store):
    """SELECT * over a union body: out names come from the full group
    scope, branches fill missing vars with unbound."""
    out = execute(
        store,
        """SELECT DISTINCT ?s ?o WHERE {
             { SELECT * WHERE {
                 { ?s <http://ex/follows> ?o }
                 UNION { ?s <http://ex/banned> ?o }
               } }
           }""",
    )
    got = sorted((r["s"], r["o"]) for r in out.collect())
    assert got == [
        ("http://ex/a", "http://ex/b"),
        ("http://ex/b", "http://ex/c"),
        ("http://ex/b", "http://ex/y"),
    ]


def test_subquery_values_body(store):
    out = execute(
        store,
        """SELECT ?s ?o WHERE {
             { SELECT ?s ?o WHERE {
                 ?s <http://ex/follows> ?o
                 VALUES ?s { <http://ex/a> }
               } }
           }""",
    )
    assert [(r["s"], r["o"]) for r in out.collect()] == [
        ("http://ex/a", "http://ex/b")
    ]


def test_subquery_minus_body(store):
    out = execute(
        store,
        """SELECT ?s ?o WHERE {
             { SELECT ?s ?o WHERE {
                 ?s <http://ex/follows> ?o
                 MINUS { ?s <http://ex/banned> ?x }
               } }
           }""",
    )
    assert [(r["s"], r["o"]) for r in out.collect()] == [
        ("http://ex/a", "http://ex/b")
    ]


def test_subquery_exists_body_with_aggregate(store):
    out = execute(
        store,
        """SELECT ?n WHERE {
             { SELECT (COUNT(?s) AS ?n) WHERE {
                 ?s <http://ex/name> ?nm
                 FILTER EXISTS { ?s <http://ex/follows> ?o }
               } }
           }""",
    )
    assert [float(r["n"]) for r in out.collect()] == [2.0]


def test_subquery_bind_var_grouped_concat(store):
    """GROUP BY over a BIND-produced string var + GROUP_CONCAT of
    another BIND string: both ride lexical sidecars through the
    group-by (the in-plan hash id is not in the dictionary)."""
    out = execute(
        store,
        """SELECT ?tag ?all WHERE {
             { SELECT ?tag (GROUP_CONCAT(?nm2; separator=",") AS ?all)
               WHERE {
                 ?s <http://ex/name> ?nm .
                 BIND("person" AS ?tag)
                 BIND(UCASE(?nm) AS ?nm2)
               } GROUP BY ?tag }
           }""",
    )
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["tag"] == "person"
    assert sorted(rows[0]["all"].split(",")) == ["ALICE", "BOB", "CARA"]


def test_subquery_nested_subquery_body(store):
    """A subquery whose body itself contains a subquery (two levels)."""
    out = execute(
        store,
        """SELECT ?s ?n WHERE {
             { SELECT ?s ?n WHERE {
                 ?s <http://ex/name> ?nm .
                 { SELECT ?s (COUNT(?o) AS ?n)
                   WHERE { ?s <http://ex/follows> ?o } GROUP BY ?s }
               } }
           }""",
    )
    got = sorted((r["s"], float(r["n"])) for r in out.collect())
    assert got == [("http://ex/a", 1.0), ("http://ex/b", 1.0)]


def test_subquery_union_topk(store):
    """ORDER BY + LIMIT over an aggregated union body."""
    out = execute(
        store,
        """SELECT ?s ?n WHERE {
             { SELECT ?s (COUNT(?o) AS ?n) WHERE {
                 { ?s <http://ex/follows> ?o }
                 UNION { ?s <http://ex/likes> ?o }
               } GROUP BY ?s ORDER BY DESC(?n) LIMIT 1 }
           }""",
    )
    assert [(r["s"], float(r["n"])) for r in out.collect()] == [
        ("http://ex/a", 2.0)
    ]


def test_group_concat_separator_top_level(store):
    """SEPARATOR also parses in a top-level SELECT aggregate."""
    out = execute(
        store,
        """SELECT ?s (GROUP_CONCAT(?o; SEPARATOR="|") AS ?os) WHERE {
             ?s <http://ex/follows> ?o .
           } GROUP BY ?s""",
    )
    got = sorted((r["s"], r["os"]) for r in out.collect())
    assert got == [
        ("http://ex/a", "http://ex/b"),
        ("http://ex/b", "http://ex/c"),
    ]


def test_subquery_label_space_order_topk(store):
    """ORDER BY a STRING var inside a subquery (round 4): lexical
    total order via the per-var label attach, not the numeric-only
    fallback (which sorted every string as NULL)."""
    out = execute(
        store,
        """SELECT ?nm WHERE {
             { SELECT ?nm WHERE { ?s <http://ex/name> ?nm }
               ORDER BY DESC(?nm) LIMIT 2 }
           }""",
    )
    assert sorted(r["nm"] for r in out.collect()) == ["Bob", "Cara"]


def test_subquery_order_mixes_numeric_before_string(store):
    """Type-aware subquery order: numeric literals sort by value ahead
    of string literals (ascending)."""
    out = execute(
        store,
        """SELECT ?v WHERE {
             { SELECT ?v WHERE {
                 { ?s <http://ex/name> ?v }
                 UNION { ?s2 <http://ex/score> ?v }
               } ORDER BY ?v LIMIT 3 }
           }""",
    )
    vals = [r["v"] for r in out.collect()]
    # numerics by value (7 < 12), then the lexically-first name
    assert vals == ["7.0", "12.0", "Alice"]


def test_trailing_values_clause(store):
    """SPARQL 1.1 trailing ValuesClause: the inline table joins the
    query's solutions (grammar [28]) — here restricting ?s."""
    out = execute(
        store,
        """SELECT ?s ?o WHERE { ?s <http://ex/follows> ?o }
           VALUES ?s { <http://ex/a> }""",
    )
    assert [(r["s"], r["o"]) for r in out.collect()] == [
        ("http://ex/a", "http://ex/b")
    ]


def test_trailing_values_after_limit_with_aggregate_key(store):
    """Trailing VALUES over a GROUP BY key restricts the groups."""
    out = execute(
        store,
        """SELECT ?s (COUNT(?o) AS ?n)
           WHERE { { ?s <http://ex/follows> ?o }
                   UNION { ?s <http://ex/likes> ?o } }
           GROUP BY ?s
           VALUES ?s { <http://ex/a> <http://ex/c> }""",
    )
    got = sorted((r["s"], float(r["n"])) for r in out.collect())
    assert got == [("http://ex/a", 2.0), ("http://ex/c", 1.0)]


def test_trailing_values_non_group_key_joins_post(store):
    """F3, round-5 upgrade: in an aggregate query the trailing
    ValuesClause joins AFTER grouping (SPARQL 18.2.4). A non-group-key
    var is unbound in the post-aggregation solutions, so the VALUES
    row joins freely — groups and counts unchanged (previously an
    explicit rejection)."""
    got = execute(
        store,
        """SELECT ?s (COUNT(?o) AS ?n)
           WHERE { ?s <http://ex/follows> ?o } GROUP BY ?s
           VALUES ?o { <http://ex/b> }""",
    ).collect()
    no_values = execute(
        store,
        """SELECT ?s (COUNT(?o) AS ?n)
           WHERE { ?s <http://ex/follows> ?o } GROUP BY ?s""",
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, no_values))
