"""Round-2 SPARQL surface: grouped OPTIONAL semantics, the extended
FILTER function set (||, !, bound, type tests, str(), regex), property
path sequences/alternatives/inverse, blank nodes in queries, multiple
UNION chains, and the parser fixes (trailing-dot pname).

Semantics model: SPARQL 1.1 spec LeftJoin/expression evaluation; the
reference gets these via stock ARQ
(reference: nl/vu/jena/sparql/engine/optimizer/HBaseOptimize.java:75-111,
sail/HBaseQueryVisitor.java:289-313).
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import SparqlSyntaxError, execute, parse
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

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


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sparqlr2store"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def rows(df):
    return {tuple(r) for r in df.collect()}


# -- OPTIONAL as a unit -----------------------------------------------------


def test_optional_group_binds_as_unit(store):
    q = """
    SELECT ?s ?cap ?t WHERE {
      ?s <http://ex/state> <http://ex/yes> .
      OPTIONAL { ?s <http://ex/capital> ?cap . ?cap <http://ex/type> ?t }
    }
    """
    got = rows(execute(store, q))
    # s2's capital c2 has no type: the WHOLE group must stay unbound —
    # the round-1 per-pattern left join incorrectly bound ?cap=c2
    assert got == {
        ("http://ex/s1", "http://ex/c1", "http://ex/City"),
        ("http://ex/s2", None, None),
        ("http://ex/s3", None, None),
    }


def test_filter_inside_optional(store):
    q = """
    SELECT ?i ?p WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      OPTIONAL { ?i <http://ex/price> ?p FILTER(?p < 100) }
    }
    """
    got = rows(execute(store, q))
    # i2's price 150 fails the block filter → unbound, row kept
    assert got == {
        ("http://ex/i1", "50.0"),
        ("http://ex/i2", None),
        ("http://ex/i3", None),
    }


def test_not_bound_negation_as_failure(store):
    # BSBM Q3 shape
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      OPTIONAL { ?i <http://ex/price> ?p }
      FILTER(!bound(?p))
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i3",)}


def test_top_level_filter_on_optional_var_drops_unbound(store):
    # spec: unbound var in a comparison is a type error → row dropped
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      OPTIONAL { ?i <http://ex/price> ?p }
      FILTER(?p < 100)
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i1",)}


def test_correlated_optional_filter_joins_conditionally(store):
    # round 5 (VERDICT r4 #2): the outer-referencing FILTER is the
    # §8.2 LeftJoin condition — i1 (p=50) and i2 (p=150) both pass
    # ?p > 10, so their item extensions bind; were the condition
    # ?p > 100, i1 would surface null-extended instead of dropping
    q = """
    SELECT ?i ?y WHERE {
      ?i <http://ex/price> ?p .
      OPTIONAL { ?i <http://ex/item> ?y FILTER(?p > 100) }
    }
    """
    got = sorted(tuple(r) for r in execute(store, q).collect())
    assert got == [
        ("http://ex/i1", None),
        ("http://ex/i2", "http://ex/yes"),
    ]


def test_filter_on_never_bound_var_raises(store):
    q = "SELECT ?i WHERE { ?i <http://ex/item> ?y FILTER(?nosuch > 1) }"
    with pytest.raises(ValueError, match="never bound"):
        execute(store, q).collect()


# -- FILTER functions -------------------------------------------------------


def test_disjunction(store):
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p FILTER(?p < 60 || ?p > 120)
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i1",), ("http://ex/i2",)}


def test_type_tests(store):
    base = "SELECT ?o WHERE {{ <http://ex/m> <http://ex/val> ?o FILTER({t}(?o)) }}"
    assert rows(execute(store, base.format(t="isIRI"))) == {("http://ex/anIri",)}
    assert rows(execute(store, base.format(t="isBlank"))) == {("_:bn1",)}
    assert rows(execute(store, base.format(t="isLiteral"))) == {
        ("plain",), ("7.0",)
    }
    assert rows(execute(store, base.format(t="isNumeric"))) == {("7.0",)}


def test_regex_and_flags(store):
    q = 'SELECT ?s WHERE { ?s <http://ex/name> ?n FILTER regex(?n, "^Ali") }'
    assert rows(execute(store, q)) == {("http://ex/a",)}
    qi = 'SELECT ?s WHERE { ?s <http://ex/name> ?n FILTER regex(?n, "^ali", "i") }'
    assert rows(execute(store, qi)) == {("http://ex/a",), ("http://ex/c",)}


def test_regex_strips_lang_tag(store):
    # str(?n) of "Bob"@en is 'Bob', not '"Bob"@en'
    q = 'SELECT ?s WHERE { ?s <http://ex/name> ?n FILTER regex(str(?n), "^Bob$") }'
    assert rows(execute(store, q)) == {("http://ex/b",)}


def test_str_equality(store):
    q = 'SELECT ?s WHERE { ?s <http://ex/name> ?n FILTER(str(?n) = "Alice") }'
    assert rows(execute(store, q)) == {("http://ex/a",)}
    q2 = 'SELECT ?s WHERE { ?s <http://ex/name> ?n FILTER(str(?n) = "Bob") }'
    assert rows(execute(store, q2)) == {("http://ex/b",)}


def test_negated_disjunction_composes(store):
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p FILTER(!(?p < 60 || ?p > 200))
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i2",)}


# -- property paths ---------------------------------------------------------


def test_path_sequence(store):
    q = "SELECT ?o WHERE { <http://ex/a> <http://ex/likes>/<http://ex/partOf> ?o }"
    assert rows(execute(store, q)) == {("http://ex/y",)}


def test_path_alternative(store):
    q = "SELECT ?o WHERE { <http://ex/a> <http://ex/knows>|<http://ex/likes> ?o }"
    assert rows(execute(store, q)) == {("http://ex/b",), ("http://ex/x",)}


def test_path_inverse(store):
    q = "SELECT ?s WHERE { <http://ex/c1> ^<http://ex/capital> ?s }"
    assert rows(execute(store, q)) == {("http://ex/s1",)}


def test_path_seq_with_closure(store):
    # everyone ≥1 knows-hops from a, then their name
    q = "SELECT ?n WHERE { <http://ex/a> <http://ex/knows>+/<http://ex/name> ?n }"
    assert rows(execute(store, q)) == {('"Bob"@en',), ("ALINE",)}


def test_path_inside_graph_is_scoped(store):
    # closure restricted to g1 must NOT reach e (d→e lives in g2 only)
    q = """
    SELECT ?o WHERE {
      GRAPH <http://ex/g1> { <http://ex/a> <http://ex/knows>+ ?o }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/b",), ("http://ex/c",), ("http://ex/d",)
    }
    # unscoped, the closure crosses graphs and reaches e
    q2 = "SELECT ?o WHERE { <http://ex/a> <http://ex/knows>+ ?o }"
    assert ("http://ex/e",) in rows(execute(store, q2))


def test_var_predicate_with_modifier_raises(store):
    with pytest.raises(SparqlSyntaxError):
        parse("SELECT ?s WHERE { ?s ?p+ ?o }")


# -- parser fixes -----------------------------------------------------------


def test_pname_trailing_dot(store):
    # 'ex:yes.' = pname + triple terminator, NOT a local part ending in '.'
    q = """
    PREFIX ex: <http://ex/>
    SELECT ?s WHERE { ?s ex:state ex:yes. }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/s1",), ("http://ex/s2",), ("http://ex/s3",)
    }


def test_blank_node_label_acts_as_variable(store):
    q = "SELECT ?o WHERE { _:w <http://ex/likes> ?o }"
    assert rows(execute(store, q)) == {("http://ex/x",)}


def test_anonymous_blank_node(store):
    q = "SELECT ?o WHERE { [] <http://ex/likes> ?o }"
    assert rows(execute(store, q)) == {("http://ex/x",)}


def test_two_union_chains(store):
    # join of two unions = cross product of branches
    q = """
    SELECT ?i ?s WHERE {
      { ?i <http://ex/price> ?p FILTER(?p < 60) } UNION { ?i <http://ex/item> ?z FILTER(?p2 > 0) }
      { ?s <http://ex/capital> <http://ex/c1> } UNION { ?s <http://ex/capital> <http://ex/c2> }
    }
    """
    # second branch of chain 1 references ?p2 which is never bound there
    # → that branch contributes nothing (type error drops its rows)
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "http://ex/s1"),
        ("http://ex/i1", "http://ex/s2"),
    }


def test_union_branch_local_filters_stay_local(store):
    q = """
    SELECT ?i WHERE {
      { ?i <http://ex/price> ?p FILTER(?p < 60) }
      UNION
      { ?i <http://ex/price> ?p FILTER(?p > 120) }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i1",), ("http://ex/i2",)}


# -- VALUES / MINUS / EXISTS / IN --------------------------------------------


def test_values_single_var(store):
    q = """
    SELECT ?i ?p WHERE {
      VALUES ?i { <http://ex/i1> <http://ex/i3> }
      ?i <http://ex/item> ?y .
      OPTIONAL { ?i <http://ex/price> ?p }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "50.0"),
        ("http://ex/i3", None),
    }


def test_values_multi_var_extends_bindings(store):
    q = """
    SELECT ?i ?tag WHERE {
      ?i <http://ex/price> ?p .
      VALUES (?i ?tag) {
        (<http://ex/i1> "cheap")
        (<http://ex/i2> "dear")
      }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "cheap"),
        ("http://ex/i2", "dear"),
    }


def test_values_numeric_join(store):
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p .
      VALUES ?p { 50 }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i1",)}


def test_values_undef_matches_anything(store):
    # UNDEF in a shared column imposes no constraint on that var:
    # (i1, "cheap") pins i1; (UNDEF, "any") matches every item
    q = """
    SELECT ?i ?tag WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      VALUES (?i ?tag) {
        (<http://ex/i1> "cheap")
        (UNDEF "any")
      }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "cheap"),
        ("http://ex/i1", "any"),
        ("http://ex/i2", "any"),
        ("http://ex/i3", "any"),
    }


def test_values_undef_fills_optional_null(store):
    # an OPTIONAL-unbound var is compatible with a bound VALUES cell,
    # and the merged solution takes the bound side (i3 has no price)
    q = """
    SELECT ?i ?p WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      OPTIONAL { ?i <http://ex/price> ?p }
      VALUES ?p { 999 50 }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "50.0"),
        ("http://ex/i3", "999.0"),
        ("http://ex/i3", "50.0"),
    }


def test_values_undef_stays_unbound(store):
    # an all-UNDEF row contributes an unconstrained solution; the var
    # stays unbound where the pattern side has no binding either
    q = """
    SELECT ?i ?tag WHERE {
      ?i <http://ex/price> ?p . FILTER(?p > 100)
      VALUES ?tag { UNDEF "x" }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i2", None),
        ("http://ex/i2", "x"),
    }


def test_order_by_numeric_is_type_aware(store):
    # lexicographic sort would put "150.0" before "50.0"; the sidecar
    # keys sort numerics by VALUE (the LIMIT makes it observable)
    q = """
    SELECT ?i ?p WHERE { ?i <http://ex/price> ?p } ORDER BY ?p LIMIT 1
    """
    assert rows(execute(store, q)) == {("http://ex/i1", "50.0")}
    q2 = """
    SELECT ?i ?p WHERE { ?i <http://ex/price> ?p }
    ORDER BY DESC(?p) LIMIT 1
    """
    assert rows(execute(store, q2)) == {("http://ex/i2", "150.0")}


def test_order_by_unbound_sorts_first(store):
    # spec total order: unbound < bound; i3 has no price
    q = """
    SELECT ?i ?p WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      OPTIONAL { ?i <http://ex/price> ?p }
    } ORDER BY ?p LIMIT 1
    """
    assert rows(execute(store, q)) == {("http://ex/i3", None)}


def test_order_by_aggregate_alias_numeric(store):
    # aggregate outputs are raw scalars — native numeric sort
    q = """
    SELECT ?s (COUNT(?v) AS ?n) WHERE { ?s <http://ex/val> ?v }
    GROUP BY ?s ORDER BY DESC(?n) LIMIT 1
    """
    assert rows(execute(store, q)) == {("http://ex/m", 4)}


def test_minus(store):
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      MINUS { ?i <http://ex/price> ?p }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i3",)}


def test_not_exists(store):
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      FILTER NOT EXISTS { ?i <http://ex/price> ?p }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i3",)}


def test_exists(store):
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      FILTER EXISTS { ?i <http://ex/price> ?p }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i1",), ("http://ex/i2",)}


def test_exists_uncorrelated(store):
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      FILTER EXISTS { <http://ex/a> <http://ex/knows> ?w }
    }
    """
    assert len(rows(execute(store, q))) == 3
    q2 = """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      FILTER EXISTS { <http://ex/nope> <http://ex/knows> ?w }
    }
    """
    assert rows(execute(store, q2)) == set()


def test_exists_correlated_var_cmp(store):
    # EXISTS substitution semantics: the block filter compares a block
    # var against an OUTER var — "items with a strictly cheaper item"
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p .
      FILTER EXISTS { ?j <http://ex/price> ?q . FILTER(?q < ?p) }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i2",)}


def test_not_exists_correlated_is_argmax(store):
    # the classic argmax-by-anti-join: no item is more expensive
    q = """
    SELECT ?i ?p WHERE {
      ?i <http://ex/price> ?p .
      FILTER NOT EXISTS { ?j <http://ex/price> ?q . FILTER(?q > ?p) }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i2", "150.0")}


def test_exists_correlated_with_shared_var(store):
    # shared var (?s) joins by equality; the correlated conjunct reads
    # the outer-only ?p — only rows with p > 100 see a matching block
    q = """
    SELECT ?s ?p WHERE {
      ?s <http://ex/price> ?p .
      FILTER NOT EXISTS { ?s <http://ex/item> ?y . FILTER(?p > 100) }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i1", "50.0")}


def test_exists_correlated_no_shared_vars(store):
    # zero shared pattern vars: pure filter correlation still works
    # (m's numeric val 7 is below every price)
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p .
      FILTER EXISTS { ?m <http://ex/val> ?v . FILTER(?v < ?p) }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1",), ("http://ex/i2",),
    }


def test_exists_correlated_label_space_filter(store):
    # correlated label-space filter inside EXISTS (supported since
    # r4): regex over the OUTER var — its lexical label joins into
    # the EXISTS condition under substitution semantics
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p .
      FILTER EXISTS { ?j <http://ex/item> ?y . FILTER regex(?p, "^15") }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i2",)}
    q_not = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p .
      FILTER NOT EXISTS { ?j <http://ex/item> ?y . FILTER regex(?p, "^15") }
    }
    """
    assert rows(execute(store, q_not)) == {("http://ex/i1",)}


def test_exists_filter_unknown_var_raises(store):
    with pytest.raises(SparqlSyntaxError, match="nowhere"):
        execute(store, """
        SELECT ?i WHERE {
          ?i <http://ex/price> ?p .
          FILTER EXISTS { ?j <http://ex/item> ?y . FILTER(?zzz > 1) }
        }
        """)


def test_minus_foreign_var_filter_is_unbound(store):
    # spec: MINUS does NOT substitute — ?p is unbound inside the block,
    # the comparison errors to false, the block is empty, nothing is
    # removed (the famous MINUS/NOT-EXISTS divergence)
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p .
      MINUS { ?i <http://ex/item> ?y . FILTER(?p > 0) }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1",), ("http://ex/i2",),
    }


def test_minus_foreign_not_bound_filter_matches(store):
    # ...but !bound(?p) over the unbound outer var is TRUE inside the
    # block, so the block keeps its rows and the anti-join removes all
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p .
      MINUS { ?i <http://ex/item> ?y . FILTER(!bound(?p)) }
    }
    """
    assert rows(execute(store, q)) == set()


def test_filter_in_and_not_in(store):
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      FILTER(?i IN (<http://ex/i1>, <http://ex/i2>))
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i1",), ("http://ex/i2",)}
    q2 = """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      FILTER(?i NOT IN (<http://ex/i1>, <http://ex/i2>))
    }
    """
    assert rows(execute(store, q2)) == {("http://ex/i3",)}


def test_filter_in_numeric(store):
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p FILTER(?p IN (50, 999))
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i1",)}


# -- BIND --------------------------------------------------------------------


def test_bind_arithmetic(store):
    q = """
    SELECT ?i ?double WHERE {
      ?i <http://ex/price> ?p .
      BIND(?p * 2 AS ?double)
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "100.0"),
        ("http://ex/i2", "300.0"),
    }


def test_bind_precedence_and_parens(store):
    q = """
    SELECT ?i ?v WHERE {
      ?i <http://ex/price> ?p .
      BIND((?p + 10) * 2 - ?p / 1 AS ?v)
    }
    """
    # (50+10)*2-50 = 70 ; (150+10)*2-150 = 170
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "70.0"),
        ("http://ex/i2", "170.0"),
    }


def test_bind_constant_term(store):
    q = """
    SELECT DISTINCT ?t WHERE {
      ?i <http://ex/item> ?y .
      BIND(<http://ex/sourceA> AS ?t)
    }
    """
    assert rows(execute(store, q)) == {("http://ex/sourceA",)}


def test_bind_string_constant(store):
    q = """
    SELECT DISTINCT ?lbl WHERE {
      ?i <http://ex/item> ?y .
      BIND("batch-7" AS ?lbl)
    }
    """
    assert rows(execute(store, q)) == {("batch-7",)}


def test_bind_var_copy_then_filter(store):
    # the FILTER references a BIND var → deferred until after the BIND
    q = """
    SELECT ?i WHERE {
      ?i <http://ex/price> ?p .
      BIND(?p AS ?q)
      FILTER(?q > 100)
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i2",)}


def test_bind_chained(store):
    q = """
    SELECT ?i ?b WHERE {
      ?i <http://ex/price> ?p .
      BIND(?p + 1 AS ?a)
      BIND(?a * 2 AS ?b)
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "102.0"),
        ("http://ex/i2", "302.0"),
    }


def test_bind_division_by_zero_unbinds(store):
    q = """
    SELECT ?i ?z WHERE {
      ?i <http://ex/price> ?p .
      BIND(?p / 0 AS ?z)
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", None),
        ("http://ex/i2", None),
    }
    # and bound() sees the error→unbound result
    q2 = q.replace("}\n    ", "} ").replace(
        "BIND(?p / 0 AS ?z)", "BIND(?p / 0 AS ?z) FILTER(bound(?z))"
    )
    assert rows(execute(store, q2)) == set()


def test_bind_rebind_raises(store):
    with pytest.raises(SparqlSyntaxError, match="rebind"):
        execute(store, """
        SELECT ?i WHERE { ?i <http://ex/price> ?p . BIND(1 AS ?p) }
        """)


def test_bind_out_of_scope_var_raises(store):
    # every builtin's arguments count as reads, not just arithmetic
    for expr in ("?nope + 1", "MD5(?nope)", "IRI(?nope)", "YEAR(?nope)",
                 "xsd:integer(?nope)"):
        with pytest.raises(SparqlSyntaxError, match="out-of-scope"):
            execute(store, f"""
            PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
            SELECT ?i WHERE {{ ?i <http://ex/price> ?p . BIND({expr} AS ?x) }}
            """)


def test_filter_out_of_scope_builtin_var_raises(store):
    with pytest.raises(ValueError, match="never bound"):
        execute(store, """
        SELECT ?i WHERE { ?i <http://ex/name> ?n .
          FILTER(MD5(?nope) = MD5(?n)) }
        """)


def test_bind_inside_optional(store):
    # BIND extends the optional group's solutions before the left join;
    # items without a price stay with ?q unbound
    out = execute(store, """
    SELECT ?i ?q WHERE {
      ?i <http://ex/item> ?y .
      OPTIONAL { ?i <http://ex/price> ?p . BIND(?p * 2 AS ?q) }
    }
    """)
    assert rows(out) == {
        ("http://ex/i1", "100.0"),
        ("http://ex/i2", "300.0"),
        ("http://ex/i3", None),
    }


def test_bind_aggregate_over_bind_var(store):
    q = """
    SELECT (SUM(?tax) AS ?total) WHERE {
      ?i <http://ex/price> ?p .
      BIND(?p / 10 AS ?tax)
    }
    """
    assert rows(execute(store, q)) == {(20.0,)}


# -- subqueries --------------------------------------------------------------


def test_subquery_grouped_count_joins_outer(store):
    # per-?y count from the subquery joins the outer pattern on ?y
    q = """
    SELECT ?i ?n WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      { SELECT ?i (COUNT(?p) AS ?n) WHERE { ?i <http://ex/price> ?p }
        GROUP BY ?i }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "1.0"),
        ("http://ex/i2", "1.0"),
    }


def test_subquery_scalar_cross_join(store):
    # no shared vars → cartesian with the 1-row aggregate, per spec
    q = """
    SELECT DISTINCT ?i ?total WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      { SELECT (SUM(?p) AS ?total) WHERE { ?x <http://ex/price> ?p } }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "200.0"),
        ("http://ex/i2", "200.0"),
        ("http://ex/i3", "200.0"),
    }


def test_subquery_having_and_deferred_filter(store):
    # m has 4 val triples; subquery HAVING keeps it, outer FILTER over
    # the subquery var is deferred until after the join
    q = """
    SELECT ?s ?n WHERE {
      ?s <http://ex/val> ?v0 .
      { SELECT ?s (COUNT(?v) AS ?n) WHERE { ?s <http://ex/val> ?v }
        GROUP BY ?s HAVING(?n >= 2) }
      FILTER(?n < 100)
    }
    """
    # outer pattern matches m 4x (bag), each joined to the count row
    got = execute(store, q).collect()
    assert {(r.s, r.n) for r in got} == {("http://ex/m", "4.0")}
    assert len(got) == 4


def test_subquery_distinct_projection(store):
    q = """
    SELECT ?w WHERE {
      { SELECT DISTINCT ?w WHERE { ?a <http://ex/knows> ?w } }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/b",), ("http://ex/c",), ("http://ex/d",),
        ("http://ex/e",),
    }


def test_subquery_bind_over_subquery_var(store):
    q = """
    SELECT DISTINCT ?i ?twice WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      { SELECT ?i (SUM(?p) AS ?sp) WHERE { ?i <http://ex/price> ?p }
        GROUP BY ?i }
      BIND(?sp * 2 AS ?twice)
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "100.0"),
        ("http://ex/i2", "300.0"),
    }


def test_subquery_order_without_limit_raises(store):
    # ORDER with no slice is unobservable through the enclosing join —
    # rejected rather than silently ignored
    with pytest.raises(SparqlSyntaxError, match="ORDER"):
        execute(store, """
        SELECT ?i WHERE {
          { SELECT ?i WHERE { ?i <http://ex/price> ?p } ORDER BY ?p }
        }
        """)


def test_subquery_order_limit_topk(store):
    # top-1 item by price: ORDER BY a numeric var DESC + LIMIT
    q = """
    SELECT ?i ?p WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      { SELECT ?i ?p WHERE { ?i <http://ex/price> ?p }
        ORDER BY DESC(?p) LIMIT 1 }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/i2", "150.0")}


def test_subquery_order_limit_offset_agg_alias(store):
    # slice on an aggregate alias: 2nd-largest per-subject val count
    q = """
    SELECT ?s ?n WHERE {
      { SELECT ?s (COUNT(?v) AS ?n) WHERE { ?s <http://ex/val> ?v }
        GROUP BY ?s ORDER BY DESC(?n) LIMIT 1 OFFSET 0 }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/m", "4.0")}


def test_subquery_group_concat(store):
    # label-space aggregate inside a subquery: members sort, result
    # renders through the lexical sidecar (not in the dictionary)
    q = """
    SELECT ?i ?all WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      { SELECT ?i (GROUP_CONCAT(?p) AS ?all)
        WHERE { ?i <http://ex/price> ?p } GROUP BY ?i }
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "50.0"),
        ("http://ex/i2", "150.0"),
    }


def test_subquery_sample(store):
    q = """
    SELECT ?s ?one WHERE {
      { SELECT ?s (SAMPLE(?w) AS ?one)
        WHERE { ?s <http://ex/knows> ?w } GROUP BY ?s }
      ?s <http://ex/likes> ?x .
    }
    """
    # SAMPLE is deterministic (minimum label); a = min(b)
    assert rows(execute(store, q)) == {("http://ex/a", "http://ex/b")}


def test_subquery_inside_optional_executes(store):
    # supported since r2d as the block's sole content (braced or bare
    # SubSelect form — semantics covered in test_sparql_triples_shorthand.py)
    execute(store, """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      OPTIONAL { { SELECT ?i WHERE { ?i <http://ex/price> ?p } } }
    }
    """).collect()
    # since r4: a subquery MIXED with patterns in one OPTIONAL is a
    # full-algebra group — the subquery inner-joins the block's
    # patterns before the left join (tests/test_sparql_optional_groups.py covers
    # the semantics; here just assert it plans and runs)
    execute(store, """
    SELECT ?i WHERE {
      ?i <http://ex/item> <http://ex/yes> .
      OPTIONAL { ?i <http://ex/label> ?l
                 { SELECT ?i WHERE { ?i <http://ex/price> ?p } } }
    }
    """).collect()


# -- BIND string functions ---------------------------------------------------


def test_bind_concat_str_of_iri(store):
    q = """
    SELECT ?i ?tag WHERE {
      ?i <http://ex/price> ?p .
      BIND(CONCAT(STR(?i), "#priced") AS ?tag)
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "http://ex/i1#priced"),
        ("http://ex/i2", "http://ex/i2#priced"),
    }


def test_bind_ucase_lcase(store):
    q = """
    SELECT ?s ?u ?l WHERE {
      ?s <http://ex/name> ?n . FILTER(str(?n) = "Alice")
      BIND(UCASE(?n) AS ?u)
      BIND(LCASE(?n) AS ?l)
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/a", "ALICE", "alice"),
    }


def test_bind_str_strips_lang_tag(store):
    q = """
    SELECT ?s ?plain WHERE {
      ?s <http://ex/name> ?n . FILTER(langMatches(lang(?n), "en"))
      BIND(STR(?n) AS ?plain)
    }
    """
    assert rows(execute(store, q)) == {("http://ex/b", "Bob")}


def test_bind_strlen_numeric_context(store):
    # STRLEN feeds arithmetic; result is numeric and filterable
    q = """
    SELECT ?s ?n2 WHERE {
      ?s <http://ex/name> ?n .
      BIND(STRLEN(?n) * 10 AS ?n2)
      FILTER(?n2 >= 50)
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/a", "50.0"),   # Alice → 5
        ("http://ex/c", "50.0"),   # ALINE → 5
    }


def test_bind_concat_numeric_var_renders(store):
    q = """
    SELECT ?i ?lbl WHERE {
      ?i <http://ex/price> ?p .
      BIND(CONCAT("p=", ?p) AS ?lbl)
    }
    """
    assert rows(execute(store, q)) == {
        ("http://ex/i1", "p=50.0"),
        ("http://ex/i2", "p=150.0"),
    }


def test_bind_string_chain_on_bind_var(store):
    # second BIND reads the FIRST bind's sidecar lexical, no dictionary
    q = """
    SELECT DISTINCT ?b WHERE {
      ?i <http://ex/item> ?y .
      BIND("abc" AS ?a)
      BIND(UCASE(?a) AS ?b)
    }
    """
    assert rows(execute(store, q)) == {("ABC",)}
