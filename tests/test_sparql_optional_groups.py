"""Nested groups with the full algebra: VALUES / MINUS / FILTER [NOT]
EXISTS / subqueries / UNION mixed with patterns inside OPTIONAL { … },
and FILTERs over variables a nested group cannot bind.

The reference inherits these for free from ARQ's algebra (every
GroupGraphPattern position accepts every operator —
sparql/HBaseFuseki.java routes the full parse tree). Every nested
group is a parsed ``Query`` evaluated by the one group evaluator
(plans/sparql.py ``_group_bindings``), so an OPTIONAL body's solutions
— VALUES-joined, MINUS-pruned, EXISTS-filtered — left-join onto the
required bindings as a unit (SPARQL 1.1 LeftJoin). A FILTER of an
OPTIONAL / EXISTS / MINUS group that reads outer variables is split
off first: the join condition for OPTIONAL and EXISTS, evaluated with
those variables unbound for MINUS. Any other variable a group does
not bind is unbound (NULL), so SQL three-valued logic gives SPARQL's
error semantics.
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

NQ = [
    "<http://ex/a1> <http://ex/knows> <http://ex/b1> .",
    "<http://ex/a2> <http://ex/knows> <http://ex/b2> .",
    "<http://ex/a3> <http://ex/knows> <http://ex/b3> .",
    "<http://ex/b1> <http://ex/type> <http://ex/Member> .",
    "<http://ex/b2> <http://ex/type> <http://ex/Guest> .",
    # b3 has no type
    f'<http://ex/b1> <http://ex/score> "5"^^<{XSD_INT}> .',
    "<http://ex/b2> <http://ex/banned> <http://ex/y> .",
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sparqlr4bstore"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def _rows(out):
    return sorted((r[0], r[1]) for r in out.collect())


def test_values_inside_optional(store):
    """VALUES inside the block restricts the block's solutions only:
    a ?b whose type is excluded keeps its outer row, unbound ?t."""
    out = execute(
        store,
        """SELECT ?a ?t WHERE {
             ?a <http://ex/knows> ?b
             OPTIONAL { ?b <http://ex/type> ?t
                        VALUES ?t { <http://ex/Member> } }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "http://ex/Member"),
        ("http://ex/a2", None),
        ("http://ex/a3", None),
    ]


def test_minus_inside_optional(store):
    out = execute(
        store,
        """SELECT ?a ?t WHERE {
             ?a <http://ex/knows> ?b
             OPTIONAL { ?b <http://ex/type> ?t
                        MINUS { ?b <http://ex/banned> ?x } }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "http://ex/Member"),
        ("http://ex/a2", None),
        ("http://ex/a3", None),
    ]


def test_exists_inside_optional(store):
    out = execute(
        store,
        """SELECT ?a ?t WHERE {
             ?a <http://ex/knows> ?b
             OPTIONAL { ?b <http://ex/type> ?t
                        FILTER EXISTS { ?b <http://ex/score> ?s } }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "http://ex/Member"),
        ("http://ex/a2", None),
        ("http://ex/a3", None),
    ]


def test_not_exists_inside_optional(store):
    out = execute(
        store,
        """SELECT ?a ?t WHERE {
             ?a <http://ex/knows> ?b
             OPTIONAL { ?b <http://ex/type> ?t
                        FILTER NOT EXISTS { ?b <http://ex/score> ?s } }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", None),
        ("http://ex/a2", "http://ex/Guest"),
        ("http://ex/a3", None),
    ]


def test_subquery_mixed_with_pattern_inside_optional(store):
    """A subquery no longer needs to be the block's sole content —
    it inner-joins the block's patterns before the left join."""
    out = execute(
        store,
        """SELECT ?a ?t ?n WHERE {
             ?a <http://ex/knows> ?b
             OPTIONAL {
               ?b <http://ex/type> ?t .
               { SELECT ?b (COUNT(?s) AS ?n)
                 WHERE { ?b <http://ex/score> ?s } GROUP BY ?b }
             }
           }""",
    )
    got = sorted(
        (r["a"], r["t"], None if r["n"] is None else float(r["n"]))
        for r in out.collect()
    )
    assert got == [
        ("http://ex/a1", "http://ex/Member", 1.0),
        ("http://ex/a2", None, None),
        ("http://ex/a3", None, None),
    ]


def test_union_branch_with_values(store):
    """A UNION branch carrying VALUES is a full-algebra branch."""
    out = execute(
        store,
        """SELECT ?a WHERE {
             { ?a <http://ex/knows> ?b VALUES ?b { <http://ex/b1> } }
             UNION
             { ?a <http://ex/banned> ?y }
           }""",
    )
    assert sorted(r[0] for r in out.collect()) == [
        "http://ex/a1", "http://ex/b2",
    ]


def test_union_branch_with_minus(store):
    out = execute(
        store,
        """SELECT ?a ?b WHERE {
             { ?a <http://ex/knows> ?b
               MINUS { ?b <http://ex/banned> ?x } }
             UNION
             { ?a <http://ex/type> <http://ex/Guest> }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "http://ex/b1"),
        ("http://ex/a3", "http://ex/b3"),
        ("http://ex/b2", None),
    ]


def test_nested_union_mixed_with_pattern(store):
    """{ {A} UNION {B} . C }: a union chain mixed with a pattern in
    one group — joins distribute over the union, evaluated as a
    unit (previously raised 'nested UNION chains')."""
    out = execute(
        store,
        """SELECT ?a ?t WHERE {
             { { ?b <http://ex/type> ?t } UNION
               { ?b <http://ex/banned> ?t } .
               ?a <http://ex/knows> ?b }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "http://ex/Member"),
        ("http://ex/a2", "http://ex/Guest"),
        ("http://ex/a2", "http://ex/y"),
    ]


def test_minus_with_union_block(store):
    out = execute(
        store,
        """SELECT ?a ?b WHERE {
             ?a <http://ex/knows> ?b
             MINUS { { ?b <http://ex/banned> ?x } UNION
                     { ?b <http://ex/score> ?x } }
           }""",
    )
    assert _rows(out) == [("http://ex/a3", "http://ex/b3")]


def test_exists_with_union_block(store):
    out = execute(
        store,
        """SELECT ?a WHERE {
             ?a <http://ex/knows> ?b
             FILTER EXISTS { { ?b <http://ex/banned> ?x } UNION
                             { ?b <http://ex/score> ?x } }
           }""",
    )
    assert sorted(r[0] for r in out.collect()) == [
        "http://ex/a1", "http://ex/a2",
    ]


def test_pattern_free_values_inside_optional(store):
    """OPTIONAL { VALUES … } with no shared vars left-joins the inline
    table onto every outer solution."""
    out = execute(
        store,
        """SELECT ?a ?t WHERE {
             ?a <http://ex/knows> ?b
             OPTIONAL { VALUES ?t { "tag" } }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "tag"),
        ("http://ex/a2", "tag"),
        ("http://ex/a3", "tag"),
    ]


def test_path_inside_minus(store):
    """A property path inside a MINUS block: ?b reachable over one-or-
    more <banned> hops is pruned."""
    out = execute(
        store,
        """SELECT ?a ?b WHERE {
             ?a <http://ex/knows> ?b
             MINUS { ?b <http://ex/banned>+ ?x }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "http://ex/b1"),
        ("http://ex/a3", "http://ex/b3"),
    ]


def test_path_inside_exists(store):
    out = execute(
        store,
        """SELECT ?a WHERE {
             ?a <http://ex/knows> ?b
             FILTER EXISTS { ?b <http://ex/type>/^<http://ex/type> ?b2 }
           }""",
    )
    assert sorted(r[0] for r in out.collect()) == [
        "http://ex/a1", "http://ex/a2",
    ]


def test_bind_inside_spliced_braced_group(store):
    """A bare braced group carrying BIND splices its BIND into the
    enclosing group (previously silently dropped)."""
    out = execute(
        store,
        """SELECT ?a ?tag WHERE {
             { ?a <http://ex/knows> ?b . BIND("k" AS ?tag) }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "k"), ("http://ex/a2", "k"), ("http://ex/a3", "k"),
    ]


def test_optional_group_with_nested_optional_and_minus(store):
    """Full-algebra OPTIONAL whose group itself carries an OPTIONAL and
    a MINUS — _group_bindings recurses through both."""
    out = execute(
        store,
        """SELECT ?a ?t ?s WHERE {
             ?a <http://ex/knows> ?b
             OPTIONAL {
               ?b <http://ex/type> ?t
               OPTIONAL { ?b <http://ex/score> ?s }
               MINUS { ?b <http://ex/banned> ?x }
             }
           }""",
    )
    got = sorted(
        (r["a"], r["t"], None if r["s"] is None else float(r["s"]))
        for r in out.collect()
    )
    assert got == [
        ("http://ex/a1", "http://ex/Member", 5.0),
        ("http://ex/a2", None, None),
        ("http://ex/a3", None, None),
    ]


def test_values_inside_minus(store):
    out = execute(
        store,
        """SELECT ?a ?b WHERE {
             ?a <http://ex/knows> ?b
             MINUS { ?b <http://ex/type> ?t
                     VALUES ?t { <http://ex/Guest> } }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "http://ex/b1"),
        ("http://ex/a3", "http://ex/b3"),
    ]


def test_bind_inside_minus(store):
    """A BIND inside MINUS extends the block's solutions BEFORE the
    compatibility anti-join (previously silently dropped, removing
    nothing). ?b is bound inside the block only via the BIND."""
    out = execute(
        store,
        """SELECT ?a ?b WHERE {
             ?a <http://ex/knows> ?b
             MINUS { ?x <http://ex/banned> ?y
                     BIND(?x AS ?b) }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "http://ex/b1"),
        ("http://ex/a3", "http://ex/b3"),
    ]


def test_bind_inside_exists(store):
    out = execute(
        store,
        """SELECT ?a ?b WHERE {
             ?a <http://ex/knows> ?b
             FILTER EXISTS { ?x <http://ex/banned> ?y
                             BIND(?x AS ?b) }
           }""",
    )
    assert _rows(out) == [("http://ex/a2", "http://ex/b2")]


def test_optional_group_left_merge_join(store):
    """F4: a group-backed OPTIONAL whose inner OPTIONAL leaves a shared
    var unbound — compatibility LeftJoin keeps the block row and the
    outer binding (plain equality orphaned the row: ?t came back
    unbound)."""
    out = execute(
        store,
        """SELECT ?a ?t WHERE {
             ?a <http://ex/knows> ?b .
             ?b <http://ex/score> ?s .
             OPTIONAL { ?b <http://ex/type> ?t
                        OPTIONAL { ?t <http://ex/score> ?s }
                        MINUS { ?b <http://ex/banned> ?x } }
           }""",
    )
    assert _rows(out) == [("http://ex/a1", "http://ex/Member")]


def test_group_join_merges_unbound_shared(store):
    """F1: a full-algebra braced group emitting an unbound shared var
    joins the enclosing combo through the compatibility merge join
    (plain inner equality silently dropped the solution)."""
    out = execute(
        store,
        """SELECT ?a ?s WHERE {
             ?a <http://ex/knows> ?b .
             ?b <http://ex/score> ?s .
             { ?b <http://ex/type> ?t
               OPTIONAL { ?t <http://ex/score> ?s }
               MINUS { ?b <http://ex/banned> ?x } }
           }""",
    )
    got = [(r["a"], float(r["s"])) for r in out.collect()]
    assert got == [("http://ex/a1", 5.0)]


def test_minus_only_optional_group_runs(store):
    """F5: a group whose ONLY content is MINUS seeds the unit solution
    instead of dying on the empty-BGP assertion; disjoint domains
    remove nothing, so every outer row survives unchanged."""
    out = execute(
        store,
        """SELECT ?a ?b WHERE {
             ?a <http://ex/knows> ?b
             OPTIONAL { MINUS { ?x <http://ex/banned> ?y } }
           }""",
    )
    assert _rows(out) == [
        ("http://ex/a1", "http://ex/b1"),
        ("http://ex/a2", "http://ex/b2"),
        ("http://ex/a3", "http://ex/b3"),
    ]


def test_exists_label_filter_over_bind_var(store):
    """F2: a correlated label-space EXISTS filter over a BIND-produced
    string var reads the vlex sidecar (the hash id is not in the
    dictionary — the plain id2term attach evaluated it as unbound)."""
    out = execute(
        store,
        """SELECT ?a WHERE {
             ?a <http://ex/knows> ?b .
             BIND("abc" AS ?m)
             FILTER EXISTS { ?b <http://ex/type> ?t
                             FILTER regex(?m, "^a") }
           }""",
    )
    assert sorted(r[0] for r in out.collect()) == [
        "http://ex/a1", "http://ex/a2",
    ]


# -- FILTERs over variables a nested group cannot bind ----------------------


def _nq_store(spark, root, nq):
    lines = spark.createDataFrame([(l,) for l in nq], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


@pytest.fixture(scope="module")
def union_store(spark, tmp_path_factory):
    return _nq_store(spark, str(tmp_path_factory.mktemp("unionfilter")), [
        "<http://ex/a1> <http://ex/knows> <http://ex/b1> .",
        "<http://ex/a2> <http://ex/likes> <http://ex/b2> .",
        f'<http://ex/a2> <http://ex/lim> "9"^^<{XSD_INT}> .',
    ])


@pytest.fixture(scope="module")
def corr_store(spark, tmp_path_factory):
    return _nq_store(spark, str(tmp_path_factory.mktemp("corrfilter")), [
        "<http://ex/a1> <http://ex/knows> <http://ex/b1> .",
        "<http://ex/a2> <http://ex/knows> <http://ex/b2> .",
        f'<http://ex/a1> <http://ex/lim> "4"^^<{XSD_INT}> .',
        f'<http://ex/a2> <http://ex/lim> "9"^^<{XSD_INT}> .',
        f'<http://ex/b1> <http://ex/score> "5"^^<{XSD_INT}> .',
        f'<http://ex/b2> <http://ex/rank> "7"^^<{XSD_INT}> .',
    ])


def _col(out):
    return sorted(r[0] for r in out.collect())


def test_union_filter_over_branch_unbound_var(union_store):
    """?c is unbound in the knows branch, so !BOUND(?c) holds there."""
    out = execute(union_store, """SELECT ?a WHERE {
        { ?a <http://ex/knows> ?b } UNION { ?a <http://ex/likes> ?c }
        FILTER(!BOUND(?c)) }""")
    assert _col(out) == ["http://ex/a1"]


def test_optional_union_filter_over_branch_unbound_var(union_store):
    out = execute(union_store, """SELECT ?a ?b WHERE {
        ?a ?p ?o
        OPTIONAL {
          { ?a <http://ex/knows> ?b } UNION { ?a <http://ex/likes> ?c }
          FILTER(!BOUND(?c)) } }""")
    assert sorted(((r[0], r[1]) for r in out.collect()), key=str) == [
        ("http://ex/a1", "http://ex/b1"),
        ("http://ex/a2", None),
        ("http://ex/a2", None),
    ]


_OUTER = "?a <http://ex/knows> ?b . ?a <http://ex/lim> ?l ."


def test_exists_union_filter_reads_outer_var(corr_store):
    """The block filter reads the outer ?l: it is the EXISTS join
    condition, under substitution."""
    out = execute(corr_store, f"""SELECT ?a WHERE {{ {_OUTER}
        FILTER EXISTS {{
          {{ ?b <http://ex/score> ?s }} UNION {{ ?b <http://ex/rank> ?s }}
          FILTER(?s > ?l) }} }}""")
    assert _col(out) == ["http://ex/a1"]


def test_minus_union_filter_over_outer_var(corr_store):
    """MINUS does not substitute: the outer ?l is unbound inside the
    block, so !BOUND(?l) holds and both solutions are removed."""
    out = execute(corr_store, f"""SELECT ?a WHERE {{ {_OUTER}
        MINUS {{
          {{ ?b <http://ex/score> ?s }} UNION {{ ?b <http://ex/rank> ?s }}
          FILTER(!BOUND(?l)) }} }}""")
    assert _col(out) == []


def test_plain_exists_and_minus_filters_over_outer_var(corr_store):
    exists = execute(corr_store, f"""SELECT ?a WHERE {{ {_OUTER}
        FILTER EXISTS {{ ?b <http://ex/score> ?s FILTER(?s > ?l) }} }}""")
    assert _col(exists) == ["http://ex/a1"]
    minus = execute(corr_store, f"""SELECT ?a WHERE {{ {_OUTER}
        MINUS {{ ?b <http://ex/score> ?s FILTER(!BOUND(?l)) }} }}""")
    assert _col(minus) == ["http://ex/a2"]


def test_optional_in_a_group_without_patterns(corr_store):
    """With no pattern to left-join onto, OPTIONAL extends the group's
    VALUES table or subquery."""
    opt = "OPTIONAL { ?a <http://ex/knows> ?b . ?b <http://ex/score> ?s }"
    want = [("http://ex/a1", "http://ex/b1"), ("http://ex/a2", None)]
    for head in (
        "VALUES ?a { <http://ex/a1> <http://ex/a2> }",
        "{ SELECT ?a WHERE { ?a <http://ex/lim> ?l } }",
    ):
        out = execute(corr_store, f"SELECT ?a ?b WHERE {{ {head} {opt} }}")
        assert sorted(((r[0], r[1]) for r in out.collect()), key=str) == want
