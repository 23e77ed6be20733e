"""BIND variables consumed by later graph patterns: the in-group
evaluation order ``Join(Extend(G, v, expr), P)``.

The reference gets this from ARQ/Sesame sequence evaluation (a
GroupGraphPattern is an ordered list of elements —
sail/HBaseSailConnection.java evaluates the parse tree in order).
``_group_bindings`` does the same: it folds the group's elements left
to right, so a BIND is an Extend at its position and the patterns
after it join its output. Because term ids are content-addressed
(xxhash64(kind, lexical)), a BIND-computed term carries exactly its
dictionary id, so the join is plain struct equality — no dictionary
lookup. §18.2.1 still rejects a BIND whose variable is in scope of
the elements before it.

Also covers the RDFterm-equal fix: ``FILTER(?a = ?b)`` compares terms
(struct equality), not just numeric values.
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import SparqlSyntaxError, execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

NQ = [
    '<http://ex/a> <http://ex/name> "Alice" .',
    '<http://ex/b> <http://ex/name> "Bob" .',
    '<http://ex/doc1> <http://ex/title> "ALICE" .',
    '<http://ex/doc2> <http://ex/title> "BOB" .',
    '<http://ex/doc1> <http://ex/lang> "en" .',
    '<http://ex/doc2> <http://ex/lang> "fr" .',
    '<http://ex/doc1> <http://ex/words> "4"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://ex/doc2> <http://ex/words> "9"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://ex/a> <http://ex/score> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://ex/b> <http://ex/score> "0"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://ex/x> <http://ex/val> "8"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://ex/g> <http://ex/gname> "Alice" <http://ex/ctx1> .',
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sparqlr4dstore"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def test_string_bind_consumed_by_pattern(store):
    """The headline shape: a computed string joins an object position."""
    out = execute(
        store,
        """SELECT ?s ?d WHERE {
             ?s <http://ex/name> ?nm .
             BIND(UCASE(?nm) AS ?u)
             ?d <http://ex/title> ?u .
           }""",
    )
    assert sorted((r["s"], r["d"]) for r in out.collect()) == [
        ("http://ex/a", "http://ex/doc1"),
        ("http://ex/b", "http://ex/doc2"),
    ]


def test_post_component_travels_together(store):
    """A pattern var-connected to the consumer moves with it (no
    induced cross join in the pre-BGP)."""
    out = execute(
        store,
        """SELECT ?s ?d ?l WHERE {
             ?s <http://ex/name> ?nm .
             BIND(UCASE(?nm) AS ?u)
             ?d <http://ex/title> ?u .
             ?d <http://ex/lang> ?l .
           }""",
    )
    assert sorted((r["s"], r["d"], r["l"]) for r in out.collect()) == [
        ("http://ex/a", "http://ex/doc1", "en"),
        ("http://ex/b", "http://ex/doc2", "fr"),
    ]


def test_numeric_bind_consumed_by_pattern(store):
    """Arithmetic result (kind-2 struct, NULL id) joins a numeric
    object by value."""
    out = execute(
        store,
        """SELECT ?s ?x WHERE {
             ?s <http://ex/score> ?n .
             BIND(?n + 1 AS ?m)
             ?x <http://ex/val> ?m .
           }""",
    )
    assert sorted((r["s"], r["x"]) for r in out.collect()) == [
        ("http://ex/a", "http://ex/x"),
    ]


def test_error_unbound_is_compatible_with_everything(store):
    """10/0 errors → ?m unbound → per §8.3 the solution is compatible
    with every post solution; 10/7 binds a value no doc has → dropped."""
    out = execute(
        store,
        """SELECT ?s ?d WHERE {
             ?s <http://ex/score> ?n .
             BIND(10 / ?n AS ?m)
             ?d <http://ex/words> ?m .
           }""",
    )
    assert sorted((r["s"], r["d"]) for r in out.collect()) == [
        ("http://ex/b", "http://ex/doc1"),
        ("http://ex/b", "http://ex/doc2"),
    ]


def test_filters_route_into_and_after_the_post_join(store):
    """A filter fully inside the post component pushes into its BGP; a
    filter spanning pre and post defers until after the join."""
    out = execute(
        store,
        """SELECT ?s ?d WHERE {
             ?s <http://ex/name> ?nm .
             BIND(UCASE(?nm) AS ?u)
             ?d <http://ex/title> ?u .
             ?d <http://ex/words> ?w .
             FILTER(?w > 5)
           }""",
    )
    assert [(r["s"], r["d"]) for r in out.collect()] == [
        ("http://ex/b", "http://ex/doc2")
    ]
    out = execute(
        store,
        """SELECT ?s ?d WHERE {
             ?s <http://ex/score> ?sc .
             ?s <http://ex/name> ?nm .
             BIND(UCASE(?nm) AS ?u)
             ?d <http://ex/title> ?u .
             ?d <http://ex/words> ?w .
             FILTER(?w > ?sc)
           }""",
    )
    assert [(r["s"], r["d"]) for r in out.collect()] == [
        ("http://ex/b", "http://ex/doc2")
    ]


def test_const_iri_bind_seeds_a_pattern(store):
    out = execute(
        store,
        """SELECT ?t WHERE {
             BIND(<http://ex/doc1> AS ?d)
             ?d <http://ex/title> ?t .
           }""",
    )
    assert [r["t"] for r in out.collect()] == ["ALICE"]


def test_consumed_bind_inside_subquery_body(store):
    out = execute(
        store,
        """SELECT ?s ?d WHERE {
             { SELECT ?s ?d WHERE {
                 ?s <http://ex/name> ?nm .
                 BIND(UCASE(?nm) AS ?u)
                 ?d <http://ex/title> ?u .
             } }
           }""",
    )
    assert sorted((r["s"], r["d"]) for r in out.collect()) == [
        ("http://ex/a", "http://ex/doc1"),
        ("http://ex/b", "http://ex/doc2"),
    ]


def test_consumed_bind_from_graph_block(store):
    """BIND spliced out of a GRAPH block keeps its pattern position."""
    out = execute(
        store,
        """SELECT ?g ?s WHERE {
             GRAPH <http://ex/ctx1> {
               ?g <http://ex/gname> ?nm . BIND(STR(?nm) AS ?u)
             }
             ?s <http://ex/name> ?u .
           }""",
    )
    assert [(r["g"], r["s"]) for r in out.collect()] == [
        ("http://ex/g", "http://ex/a")
    ]


def test_consumed_bind_with_union_in_group(store):
    """Group-level BIND over a union-bound var, consumed by a group
    pattern: the post join runs after the union merge."""
    out = execute(
        store,
        """SELECT ?s ?d WHERE {
             { ?s <http://ex/name> ?nm } UNION { ?s <http://ex/title> ?nm }
             BIND(UCASE(?nm) AS ?u)
             ?d <http://ex/title> ?u .
           }""",
    )
    assert sorted((r["s"], r["d"]) for r in out.collect()) == [
        ("http://ex/a", "http://ex/doc1"),
        ("http://ex/b", "http://ex/doc2"),
        ("http://ex/doc1", "http://ex/doc1"),
        ("http://ex/doc2", "http://ex/doc2"),
    ]


def test_aggregate_over_consumed_bind(store):
    out = execute(
        store,
        """SELECT ?s (COUNT(?d) AS ?n) WHERE {
             ?s <http://ex/name> ?nm .
             BIND(UCASE(?nm) AS ?u)
             ?d <http://ex/title> ?u .
           } GROUP BY ?s""",
    )
    assert sorted((r["s"], int(r["n"])) for r in out.collect()) == [
        ("http://ex/a", 1),
        ("http://ex/b", 1),
    ]


def test_rebinding_before_the_bind_still_raises(store):
    with pytest.raises(SparqlSyntaxError):
        execute(
            store,
            """SELECT ?s WHERE {
                 ?s <http://ex/name> ?nm .
                 BIND(UCASE(?nm) AS ?nm)
               }""",
        )


def test_consuming_pattern_before_the_bind_raises(store):
    with pytest.raises(SparqlSyntaxError):
        execute(
            store,
            """SELECT ?s ?d WHERE {
                 ?d <http://ex/title> ?u .
                 ?s <http://ex/name> ?nm .
                 BIND(UCASE(?nm) AS ?u)
               }""",
        )


def test_bind_var_in_later_optional(store):
    """An OPTIONAL after the BIND left-joins on its var: no ?x has a
    gname equal to "ALICE"/"BOB", so both solutions stay."""
    out = execute(
        store,
        """SELECT ?s WHERE {
             ?s <http://ex/name> ?nm .
             BIND(UCASE(?nm) AS ?u)
             ?d <http://ex/title> ?u .
             OPTIONAL { ?x <http://ex/gname> ?u }
           }""",
    )
    assert sorted(r["s"] for r in out.collect()) == [
        "http://ex/a", "http://ex/b",
    ]


def test_bind_reading_a_later_var_is_unbound(store):
    """At the BIND, nothing before it binds ?t: UCASE errors, so ?u is
    unbound and compatible with every title pattern solution."""
    out = execute(
        store,
        """SELECT ?t WHERE {
             BIND(UCASE(?t) AS ?u)
             ?u <http://ex/title> ?t .
           }""",
    )
    assert sorted(r["t"] for r in out.collect()) == ["ALICE", "BOB"]


def test_consuming_bind_inside_optional_block(store):
    """A block-local BIND consumed by a block pattern routes the
    OPTIONAL through the group evaluator: LeftJoin-as-unit semantics
    with the in-group evaluation order inside."""
    out = execute(
        store,
        """SELECT ?s ?d WHERE {
             ?s <http://ex/name> ?nm .
             OPTIONAL { ?s <http://ex/name> ?nm2 .
                        BIND(UCASE(?nm2) AS ?u) .
                        ?d <http://ex/title> ?u }
           }""",
    )
    assert sorted((r["s"], r["d"]) for r in out.collect()) == [
        ("http://ex/a", "http://ex/doc1"),
        ("http://ex/b", "http://ex/doc2"),
    ]


def test_consuming_bind_inside_union_branch(store):
    out = execute(
        store,
        """SELECT ?s ?d WHERE {
             { ?s <http://ex/name> ?nm .
               BIND(UCASE(?nm) AS ?u) .
               ?d <http://ex/title> ?u }
             UNION { ?d <http://ex/lang> ?z }
           }""",
    )
    got = sorted((str(r["s"]), r["d"]) for r in out.collect())
    assert got == [
        ("None", "http://ex/doc1"),
        ("None", "http://ex/doc2"),
        ("http://ex/a", "http://ex/doc1"),
        ("http://ex/b", "http://ex/doc2"),
    ]


def test_consuming_bind_inside_minus_block(store):
    """MINUS block computing UCASE(name): only 'Alice' has a matching
    titled doc... both do — restrict via the block's extra pattern."""
    out = execute(
        store,
        """SELECT ?s WHERE {
             ?s <http://ex/name> ?nm .
             MINUS { ?s <http://ex/name> ?nm2 .
                     BIND(UCASE(?nm2) AS ?u) .
                     ?d <http://ex/title> ?u .
                     ?d <http://ex/lang> "en" }
           }""",
    )
    assert sorted(r["s"] for r in out.collect()) == ["http://ex/b"]


def test_consuming_bind_inside_exists_block(store):
    out = execute(
        store,
        """SELECT ?s WHERE {
             ?s <http://ex/name> ?nm .
             FILTER NOT EXISTS { ?s <http://ex/name> ?nm2 .
                                 BIND(UCASE(?nm2) AS ?u) .
                                 ?d <http://ex/title> ?u .
                                 ?d <http://ex/lang> "fr" }
           }""",
    )
    assert sorted(r["s"] for r in out.collect()) == ["http://ex/a"]


def test_blank_nodes_order_before_iris(spark, tmp_path_factory):
    """SPARQL §15.1 total order: unbound < blank nodes < IRIs <
    literals. The blank-node rank refines the id-space kind rank at
    sort time via the rendered ``_:`` prefix."""
    root = str(tmp_path_factory.mktemp("ordstore"))
    nq = [
        "<http://ex/za> <http://ex/p> <http://ex/o> .",
        "_:b1 <http://ex/p> <http://ex/o> .",
        "<http://ex/aa> <http://ex/p> <http://ex/o> .",
        "_:ab <http://ex/p> <http://ex/o> .",
    ]
    lines = spark.createDataFrame([(l,) for l in nq], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    out = execute(
        st, "SELECT ?s WHERE { ?s <http://ex/p> <http://ex/o> } ORDER BY ?s"
    )
    assert [r["s"] for r in out.collect()] == [
        "_:ab", "_:b1", "http://ex/aa", "http://ex/za",
    ]
    out = execute(
        st,
        "SELECT ?s WHERE { ?s <http://ex/p> <http://ex/o> } "
        "ORDER BY DESC(?s)",
    )
    assert [r["s"] for r in out.collect()] == [
        "http://ex/za", "http://ex/aa", "_:b1", "_:ab",
    ]


def test_var_equality_compares_terms_not_numbers(store):
    """RDFterm-equal: FILTER(?a = ?b) on string terms uses struct
    equality (previously the num-only comparison dropped every row)."""
    out = execute(
        store,
        """SELECT ?s ?t WHERE {
             ?s <http://ex/name> ?nm .
             BIND(UCASE(?nm) AS ?u)
             ?d <http://ex/title> ?t .
             FILTER(?u = ?t)
           }""",
    )
    assert sorted((r["s"], r["t"]) for r in out.collect()) == [
        ("http://ex/a", "ALICE"),
        ("http://ex/b", "BOB"),
    ]
    out = execute(
        store,
        """SELECT ?d1 ?d2 WHERE {
             ?d1 <http://ex/title> ?t1 .
             ?d2 <http://ex/title> ?t2 .
             FILTER(?t1 != ?t2)
           }""",
    )
    assert sorted((r["d1"], r["d2"]) for r in out.collect()) == [
        ("http://ex/doc1", "http://ex/doc2"),
        ("http://ex/doc2", "http://ex/doc1"),
    ]
