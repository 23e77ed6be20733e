"""SPARQL Turtle-style triple shorthand, and the nested groups it
appears in (GRAPH, OPTIONAL and UNION bodies, subqueries).

Predicate-object lists (``;``), object lists (``,``), blank-node
property lists (``[ p o ; … ]``), and the empty prefix (``PREFIX :``).
The reference accepts all of these through stock ARQ/Sesame parsers
(reference: nl/vu/jena/* passes the query string to ARQ verbatim), so
capability parity is the target; blank nodes in a query act as
non-projectable variables scoped to the pattern (SPARQL 1.1 §4.1.4).
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import SparqlSyntaxError, Union, execute, parse
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

NQ = [
    '<http://ex/a> <http://ex/name> "Alice" .',
    '<http://ex/b> <http://ex/name> "Bob" .',
    '<http://ex/a> <http://ex/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://ex/b> <http://ex/age> "40"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    "<http://ex/a> <http://ex/likes> <http://ex/b> .",
    "<http://ex/a> <http://ex/knows> <http://ex/b> .",
    "<http://ex/b> <http://ex/city> <http://ex/Rome> .",
    "<http://ex/a> <http://ex/city> <http://ex/Oslo> .",
    "<http://ex/g1/s> <http://ex/p> <http://ex/o> <http://ex/g1> .",
    "<http://ex/g1/s3> <http://ex/p> <http://ex/o3> <http://ex/g1> .",
    "<http://ex/g1/s2> <http://ex/q> <http://ex/o2> <http://ex/g1> .",
    # default-graph distractor: must NOT appear in GRAPH-scoped unions
    "<http://ex/dg> <http://ex/p> <http://ex/odefault> .",
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sparqlr3store"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def rows(df):
    return {tuple(r) for r in df.collect()}


# -- parse-level ------------------------------------------------------------


def test_semicolon_list_parses():
    q = parse(
        "PREFIX x: <http://x/> SELECT ?n WHERE "
        "{ ?p x:name ?n ; x:age ?a , ?b ; . }"
    )
    triples = [(p.s, p.p, p.o) for p in q.patterns]
    assert triples == [
        ("?p", "http://x/name", "?n"),
        ("?p", "http://x/age", "?a"),
        ("?p", "http://x/age", "?b"),
    ]


def test_bnode_property_list_desugars():
    q = parse(
        "PREFIX x: <http://x/> SELECT ?m WHERE "
        "{ ?p x:knows [ x:name ?m ; x:age 30 ] . }"
    )
    bn = [p for p in q.patterns if p.s.startswith("?__bn_")]
    assert len(bn) == 2
    link = [p for p in q.patterns if p.p == "http://x/knows"]
    assert link[0].o == bn[0].s


def test_bare_bnpl_is_a_triples_block():
    q = parse("PREFIX x: <http://x/> SELECT ?n WHERE { [ x:alias ?n ] . }")
    assert len(q.patterns) == 1
    assert q.patterns[0].s.startswith("?__bn_")


def test_empty_prefix():
    q = parse("PREFIX : <http://x/> SELECT ?n WHERE { ?p :name ?n ; a :T . }")
    assert q.patterns[0].p == "http://x/name"
    assert q.patterns[1].o == "http://x/T"


def test_bare_var_subject_still_errors():
    with pytest.raises(SparqlSyntaxError):
        parse("SELECT ?x WHERE { ?x }")
    # trailing ';' is valid per the grammar: (';' (Verb ObjectList)?)*
    parse("PREFIX x: <http://x/> SELECT ?x WHERE { ?x x:p ?y ; }")
    parse("PREFIX x: <http://x/> SELECT ?x WHERE { ?x x:p ?y ; . }")


# -- end-to-end -------------------------------------------------------------


def test_semicolon_and_comma_execute(store):
    out = execute(
        store,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n ?c WHERE {
          ?p ex:name ?n ; ex:likes ?q , ?q2 .
          ?q ex:city ?c .
        }
        """,
    )
    assert rows(out) == {("Alice", "http://ex/Rome")}


def test_object_bnpl_executes(store):
    out = execute(
        store,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n WHERE { ?p ex:name ?n ; ex:likes [ ex:city ex:Rome ] . }
        """,
    )
    assert rows(out) == {("Alice",)}


def test_bnpl_var_not_projected_by_star(store):
    out = execute(
        store,
        "PREFIX ex: <http://ex/> SELECT * WHERE { [ ex:city ?c ] . }",
    )
    assert set(out.columns) == {"c"}
    assert rows(out) == {("http://ex/Rome",), ("http://ex/Oslo",)}


def test_bnpl_inside_graph_scoped(store):
    out = execute(
        store,
        """
        PREFIX ex: <http://ex/>
        SELECT ?o WHERE { GRAPH ex:g1 { [ ex:p ?o ] . } }
        """,
    )
    assert rows(out) == {("http://ex/o",), ("http://ex/o3",)}


def test_union_inside_graph(store):
    out = execute(
        store,
        """
        PREFIX ex: <http://ex/>
        SELECT ?s ?o WHERE {
          GRAPH ex:g1 { { ?s ex:p ?o } UNION { ?s ex:q ?o } }
        }
        """,
    )
    assert rows(out) == {
        ("http://ex/g1/s", "http://ex/o"),
        ("http://ex/g1/s3", "http://ex/o3"),
        ("http://ex/g1/s2", "http://ex/o2"),
    }


def test_minus_inside_graph(store):
    out = execute(
        store,
        """
        PREFIX ex: <http://ex/>
        SELECT ?s ?o WHERE {
          GRAPH ex:g1 { ?s ex:p ?o MINUS { ?s ex:p ex:o } }
        }
        """,
    )
    assert rows(out) == {("http://ex/g1/s3", "http://ex/o3")}


def test_nested_union_flattens():
    q = parse(
        "PREFIX x: <http://x/> SELECT ?o WHERE "
        "{ { { ?s x:a ?o } UNION { ?s x:b ?o } } UNION { ?s x:c ?o } }"
    )
    assert len(q.where) == 1 and isinstance(q.where[0], Union)
    assert len(q.where[0].branches) == 3


def test_nested_union_executes(store):
    out = execute(
        store,
        """
        PREFIX ex: <http://ex/>
        SELECT ?p ?x WHERE {
          { { ?p ex:likes ?x } UNION { ?p ex:knows ?x } }
          UNION { ?p ex:city ?x }
        }
        """,
    )
    assert rows(out) == {
        ("http://ex/a", "http://ex/b"),  # likes and knows dedup to one
        ("http://ex/a", "http://ex/Oslo"),
        ("http://ex/b", "http://ex/Rome"),
    }


def test_union_inside_optional(store):
    out = execute(
        store,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n ?x WHERE {
          ?p ex:name ?n .
          OPTIONAL { { ?p ex:likes ?x } UNION { ?p ex:age ?x } }
        }
        """,
    )
    assert rows(out) == {
        ("Alice", "http://ex/b"),
        ("Alice", "30.0"),
        ("Bob", "40.0"),
    }


def test_union_inside_optional_nonmatching_branch(store):
    # a branch that never matches must not erase the other branch's rows
    out = execute(
        store,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n ?x WHERE {
          ?p ex:name ?n .
          OPTIONAL { { ?p ex:nosuch ?x } UNION { ?p ex:likes ?x } }
        }
        """,
    )
    assert rows(out) == {("Alice", "http://ex/b"), ("Bob", None)}


def test_bind_inside_optional_with_filter(store):
    # the group-local FILTER over the BIND output runs inside the block
    out = execute(
        store,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n ?d WHERE {
          ?p ex:name ?n .
          OPTIONAL { ?p ex:age ?a . BIND(?a * 2 AS ?d) FILTER(?d > 70) }
        }
        """,
    )
    assert rows(out) == {("Alice", None), ("Bob", "80.0")}


def test_bnpl_inside_optional(store):
    out = execute(
        store,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n ?c WHERE {
          ?p ex:name ?n .
          OPTIONAL { ?p ex:knows [ ex:city ?c ] . }
        }
        """,
    )
    assert rows(out) == {("Alice", "http://ex/Rome"), ("Bob", None)}


def test_union_branch_bind_tagging(store):
    # the branch-tagging idiom: each UNION branch labels its rows
    out = execute(store, """
        SELECT ?s ?o ?tag WHERE {
          { ?s <http://ex/likes> ?o BIND("liked" AS ?tag) }
          UNION
          { ?s <http://ex/knows> ?o BIND("known" AS ?tag) }
        }""")
    assert rows(out) == {
        ("http://ex/a", "http://ex/b", "liked"),
        ("http://ex/a", "http://ex/b", "known"),
    }


def test_union_branch_bind_arith_and_filter(store):
    # numeric BIND in one branch + a FILTER over the BIND var (deferred
    # until the assignment exists); the other branch leaves ?d unbound
    out = execute(store, """
        SELECT ?s ?d WHERE {
          { ?s <http://ex/age> ?a BIND(?a + 1 AS ?d) FILTER(?d > 35) }
          UNION
          { ?s <http://ex/city> <http://ex/Oslo> }
        }""")
    # computed numerics render in double lexical form (engine-wide
    # convention, cf. test_bind_arithmetic)
    assert rows(out) == {
        ("http://ex/b", "41.0"),
        ("http://ex/a", None),
    }


def test_union_branch_bind_var_reuse_rejected(store):
    with pytest.raises(SparqlSyntaxError):
        parse("""
            SELECT ?s WHERE {
              { ?s <http://ex/age> ?a BIND(1 AS ?a) }
              UNION { ?s <http://ex/city> ?c }
            }""")


def test_select_star_subquery(store):
    # SELECT * projects every visible var of the subquery group
    out = execute(store, """
        SELECT ?s ?o ?c WHERE {
          ?s <http://ex/city> ?c .
          { SELECT * WHERE { ?s <http://ex/likes> ?o } }
        }""")
    assert rows(out) == {("http://ex/a", "http://ex/b", "http://ex/Oslo")}


def test_select_star_subquery_no_vars_rejected(store):
    with pytest.raises(SparqlSyntaxError):
        execute(store, """
            SELECT ?s WHERE {
              ?s <http://ex/city> ?c .
              { SELECT * WHERE { <http://ex/a> <http://ex/likes> <http://ex/b> } }
            }""")


def test_select_star_subquery_excludes_bnode_vars(store):
    out = execute(store, """
        PREFIX ex: <http://ex/>
        SELECT ?c WHERE {
          { SELECT * WHERE { [ ex:city ?c ] } }
        }""")
    assert set(out.columns) == {"c"}
    assert rows(out) == {("http://ex/Rome",), ("http://ex/Oslo",)}


# -- SPARQL 1.1 projection expressions ---------------------------------------


def test_projection_expression_numeric(store):
    out = execute(store, """
        PREFIX ex: <http://ex/>
        SELECT ?s (?a * 2 AS ?twice) WHERE { ?s ex:age ?a }""")
    assert rows(out) == {("http://ex/a", "60.0"), ("http://ex/b", "80.0")}


def test_projection_expression_string_over_where_bind(store):
    # the projection expr reads a WHERE-body BIND var (application order)
    out = execute(store, """
        PREFIX ex: <http://ex/>
        SELECT ?n (UCASE(?tag) AS ?u) WHERE {
          ?p ex:name ?n . BIND(CONCAT(?n, "-x") AS ?tag)
        }""")
    assert rows(out) == {("Alice", "ALICE-X"), ("Bob", "BOB-X")}


def test_projection_expression_with_aggregate(store):
    # rejected through round 3; round 4 evaluates SELECT expressions
    # over the aggregated frame (tests/test_sparql_agg_expr.py has the
    # full matrix) — keep one here to pin the formerly-raising shape
    out = execute(store, """
        SELECT (COUNT(?s) AS ?n) (?n + 1 AS ?m)
        WHERE { ?s <http://ex/age> ?a }""")
    [(n, m)] = [tuple(r) for r in out.collect()]
    assert (float(n), float(m)) == (2.0, 3.0)


def test_negated_property_set_inverse_members(store):
    # !(^likes|name|age|city|knows|p|q) from b: forward part excludes
    # name/age/... (b has city->Rome left excluded? no: city IS excluded)
    # so test the semantics directly on a small shape:
    # forward: b -[p not in {name,age,city}]-> x  → none
    # inverse: y -[p not in {likes}]-> b, swapped → b←knows a excluded?
    out = execute(store, """
        PREFIX ex: <http://ex/>
        SELECT ?x WHERE { ex:b !(ex:name|ex:age|ex:city|^ex:likes) ?x }""")
    # forward from b: name/age/city all excluded → nothing forward;
    # inverse: edges INTO b with predicate != likes: a-knows->b → ?x=a
    assert rows(out) == {("http://ex/a",)}


def test_negated_property_set_only_inverse(store):
    # !(^p) ≡ ^(!(p)): all edges INTO a, any predicate → none exist;
    # edges INTO b excluding knows: a-likes->b
    out = execute(store, """
        PREFIX ex: <http://ex/>
        SELECT ?x WHERE { ex:b !(^ex:knows) ?x }""")
    assert rows(out) == {("http://ex/a",)}


def test_construct_where_shortform(store):
    out = execute(store, """
        PREFIX ex: <http://ex/>
        CONSTRUCT WHERE { ?s ex:likes ?o }""")
    assert rows(out) == {("http://ex/a", "http://ex/likes", "http://ex/b")}


def test_construct_where_rejects_filters(store):
    with pytest.raises(SparqlSyntaxError):
        parse("""CONSTRUCT WHERE { ?s <http://ex/p> ?o FILTER(?o = <x>) }""")


def test_subquery_inside_optional(store):
    # aggregate subquery as the sole OPTIONAL content: fan-out counts
    # left-join onto the required bindings; subjects with no likes/knows
    # edges keep NULL
    out = execute(store, """
        PREFIX ex: <http://ex/>
        SELECT ?s ?n WHERE {
          ?s ex:name ?n2 .
          OPTIONAL { SELECT ?s (COUNT(?o) AS ?n)
                     WHERE { ?s ex:likes ?o } GROUP BY ?s }
          BIND(STR(?n2) AS ?dummy)
        }""")
    assert rows(out.select("s", "n")) == {
        ("http://ex/a", "1.0"),
        ("http://ex/b", None),
    }


def test_subquery_in_optional_with_patterns_accepted(store):
    # since r4 a subquery mixed with patterns inside OPTIONAL is a
    # full-algebra group (semantics in tests/test_sparql_optional_groups.py);
    # here just assert it parses
    parse("""
        SELECT ?s WHERE {
          ?s <http://ex/name> ?n .
          OPTIONAL { ?s <http://ex/age> ?a
                     { SELECT ?s WHERE { ?s <http://ex/city> ?c } } }
        }""")


def test_subquery_inside_graph(store):
    # the subquery's patterns carry the GRAPH scope: counts only g1
    # edges, the default-graph distractor (ex:dg ex:p) is excluded
    out = execute(store, """
        PREFIX ex: <http://ex/>
        SELECT ?s ?n WHERE {
          GRAPH ex:g1 { { SELECT ?s (COUNT(?o) AS ?n)
                          WHERE { ?s ex:p ?o } GROUP BY ?s } }
        }""")
    assert rows(out) == {
        ("http://ex/g1/s", "1.0"),
        ("http://ex/g1/s3", "1.0"),
    }


def test_subquery_as_union_branch(store):
    # first branch is a SubSelect, second a plain group; results union
    out = execute(store, """
        PREFIX ex: <http://ex/>
        SELECT DISTINCT ?s WHERE {
          { SELECT ?s WHERE { ?s ex:likes ?o } }
          UNION
          { ?s ex:city ex:Rome }
        }""")
    assert rows(out) == {("http://ex/a",), ("http://ex/b",)}


def test_subquery_as_second_union_branch_with_outer_pattern(store):
    # aggregate SubSelect as the SECOND branch, joined with the outer
    # required pattern on the shared var
    out = execute(store, """
        PREFIX ex: <http://ex/>
        SELECT DISTINCT ?s ?n WHERE {
          ?s ex:name ?n2 .
          { ?s ex:city ex:Oslo }
          UNION
          { SELECT ?s (COUNT(?o) AS ?n)
            WHERE { ?s ex:knows ?o } GROUP BY ?s }
          BIND(STR(?n2) AS ?d)
        }""")
    assert rows(out.select("s", "n")) == {
        ("http://ex/a", None),     # Oslo branch binds no ?n
        ("http://ex/a", "1.0"),    # knows-count branch
    }


# -- review-driven hardening (round-2 code review) ---------------------------


def test_union_branch_bind_of_group_var_joins(store):
    # §18.2.1 scopes each UNION branch on its own, so a branch may BIND
    # a var the group bound before; the branch's ?n then joins the
    # group's like any shared var ("tag" is no name, so only the knows
    # branch survives)
    out = execute(store, """
        PREFIX ex: <http://ex/>
        SELECT ?x ?n WHERE {
          ?x ex:name ?n .
          { ?x ex:likes ?y BIND("tag" AS ?n) }
          UNION { ?x ex:knows ?y }
        }""")
    assert sorted(tuple(r) for r in out.collect()) == [("http://ex/a", "Alice")]


def test_group_bind_after_union_branch_bind_rejected(store):
    # a group-level BIND reusing a var a branch BIND put in scope
    with pytest.raises(SparqlSyntaxError):
        execute(store, """
            PREFIX ex: <http://ex/>
            SELECT ?t WHERE {
              { ?x ex:likes ?y BIND("a" AS ?t) }
              UNION { ?x ex:knows ?y }
              BIND("b" AS ?t)
            }""")


def test_union_of_pure_bind_branches(store):
    # pattern-free branches are the unit solution extended by BIND
    out = execute(store, """
        SELECT ?t WHERE { { BIND("a" AS ?t) } UNION { BIND("b" AS ?t) } }""")
    assert rows(out) == {("a",), ("b",)}


def test_construct_where_rejects_property_paths(store):
    with pytest.raises(SparqlSyntaxError):
        parse("CONSTRUCT WHERE { ?x <http://ex/p>/<http://ex/q> ?y }")
    with pytest.raises(SparqlSyntaxError):
        parse("CONSTRUCT WHERE { ?x <http://ex/p>+ ?y }")
    with pytest.raises(SparqlSyntaxError):
        parse("CONSTRUCT { ?x <http://ex/p>+ ?y } WHERE { ?x <http://ex/p> ?y }")


def test_path_closure_deep_chain(spark):
    """_closure's anti-join frontier past toy depth: a 40-hop linear
    chain — every node is reachable from the head via <next>+ and the
    closure terminates exactly when the frontier empties."""
    nq = [
        f"<http://ex/n{i}> <http://ex/next> <http://ex/n{i + 1}> ."
        for i in range(40)
    ]
    lines = spark.createDataFrame([(l,) for l in nq], "value string")
    resolved = quads(parse_lines(lines))
    import tempfile

    st = TripleStore(spark, tempfile.mkdtemp(prefix="deepchain_"), num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "chain")
    st.write_indexes(encode_quads(resolved), "chain")
    out = execute(
        st,
        "SELECT ?y WHERE { <http://ex/n0> <http://ex/next>+ ?y }",
    )
    got = {r[0] for r in out.collect()}
    assert got == {f"http://ex/n{i}" for i in range(1, 41)}


def test_having_direct_aggregate(store):
    """Standard HAVING (COUNT(?o) > n) form — no SELECT alias needed;
    the hidden aggregate never appears in the projection."""
    out = execute(
        store,
        """SELECT ?s WHERE { ?s ?p ?o }
           GROUP BY ?s HAVING (COUNT(?o) > 3)""",
    )
    assert out.columns == ["s"]
    got = {r[0] for r in out.collect()}
    assert got == {"http://ex/a"}  # 5 triples; every other subject <= 3


def test_having_direct_aggregate_reuses_select_alias(store):
    out = execute(
        store,
        """SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o }
           GROUP BY ?s HAVING (COUNT(?o) > 3)""",
    )
    rows = out.collect()
    assert [r["s"] for r in rows] == ["http://ex/a"]
    assert float(rows[0]["n"]) == 5.0
