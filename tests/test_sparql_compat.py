"""Round-3 SPARQL correctness corners (ADVICE r2).

1. MINUS / EXISTS compatibility over UNBOUND shared vars: SPARQL 1.1
   §8.3 defines compatibility over commonly *bound* vars only — a
   solution with an OPTIONAL-unbound shared var is still compatible
   with (and removed by) a block solution that binds it, as long as
   the remaining commonly-bound vars agree and (for MINUS) at least
   one overlap exists. Plain equality joins silently keep such rows.
2. Pattern-free groups consisting only of VALUES (valid SPARQL) must
   evaluate the inline table instead of asserting inside execute_bgp.

The reference gets both behaviours free from stock ARQ
(reference: src/main/java/nl/vu/jena/sparql/engine/ — queries are
handed to ARQ's algebra verbatim; SURVEY.md J11).
"""

import pytest

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.sparql import execute
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

NQ = [
    '<http://ex/a> <http://ex/tag> <http://ex/X> .',
    '<http://ex/b> <http://ex/tag> <http://ex/X> .',
    '<http://ex/c> <http://ex/tag> <http://ex/Y> .',
    '<http://ex/a> <http://ex/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    # b has NO age — OPTIONAL leaves ?v unbound for b
    '<http://ex/c> <http://ex/age> "50"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://ex/X> <http://ex/bad> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .',
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sparqlcompat"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    return st


def rows(df):
    return {tuple(r) for r in df.collect()}


MINUS_Q = """
SELECT ?s WHERE {
  ?s <http://ex/tag> ?t .
  OPTIONAL { ?s <http://ex/age> ?v }
  MINUS { ?t <http://ex/bad> ?v }
}
"""


def test_minus_removes_unbound_compatible(spark, store):
    # μ_a={s=a,t=X,v=30}: block row (t=X,v=30) agrees on both → removed.
    # μ_b={s=b,t=X,v=UNBOUND}: commonly-bound dom∩={t}, agrees → the
    #   spec REMOVES b; an equality join would wrongly keep it.
    # μ_c={s=c,t=Y,v=50}: t disagrees → kept.
    assert rows(execute(store, MINUS_Q)) == {("http://ex/c",)}


def test_not_exists_unbound_compatible(spark, store):
    q = """
    SELECT ?s WHERE {
      ?s <http://ex/tag> ?t .
      OPTIONAL { ?s <http://ex/age> ?v }
      FILTER NOT EXISTS { ?t <http://ex/bad> ?v }
    }
    """
    # substitution semantics: for b, ?v is unbound → unconstrained →
    # the block matches (t=X, any v) → b removed; a removed; c kept
    assert rows(execute(store, q)) == {("http://ex/c",)}


def test_exists_unbound_compatible(spark, store):
    q = """
    SELECT ?s WHERE {
      ?s <http://ex/tag> ?t .
      OPTIONAL { ?s <http://ex/age> ?v }
      FILTER EXISTS { ?t <http://ex/bad> ?v }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/a",), ("http://ex/b",)}


def test_exists_filter_reads_block_binding_of_unbound_shared_var(spark, store):
    # the block filter also reads the outer-only ?s, so it runs on the
    # merged solution: for b, ?v is unbound outside, free inside the
    # block (§8.1.1 substitution), and the block's ?v=30 passes ?v > 20;
    # reading the outer NULL ?v would drop b
    q = """
    SELECT ?s WHERE {
      ?s <http://ex/tag> ?t .
      OPTIONAL { ?s <http://ex/age> ?v }
      FILTER EXISTS { ?t <http://ex/bad> ?v FILTER(?v > 20 || ?s = <http://ex/zz>) }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/a",), ("http://ex/b",)}


def test_exists_marker_keeps_one_row_per_solution(spark, store):
    # both UNION branches yield (a, X), one with ?t's VALUES lexical
    # sidecar and one without: the EXISTS marker must not repeat either
    union = """
      { ?s <http://ex/tag> ?t }
      UNION { VALUES (?s ?t) { (<http://ex/a> <http://ex/X>) } }"""
    a, b, c = (("http://ex/a", "http://ex/X"), ("http://ex/b", "http://ex/X"),
               ("http://ex/c", "http://ex/Y"))
    got = sorted(tuple(r) for r in execute(store, f"""
        SELECT ?s ?t WHERE {{ {union}
          FILTER(EXISTS {{ ?t <http://ex/bad> ?w }} || ?s = <http://ex/zz>) }}
    """).collect())
    assert got == [a, a, b]
    got = sorted(tuple(r) for r in execute(store, f"""
        SELECT ?s ?t ?e WHERE {{ {union}
          BIND(EXISTS {{ ?t <http://ex/bad> ?w }} AS ?e) }}
    """).collect())
    assert got == [(*a, "1.0"), (*a, "1.0"), (*b, "1.0"), (*c, "0.0")]


def test_minus_disjoint_domains_removes_nothing(spark, store):
    # block shares NO vars with the outer group → removes nothing
    q = """
    SELECT ?s WHERE {
      ?s <http://ex/tag> <http://ex/Y> .
      MINUS { ?z <http://ex/bad> ?w }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/c",)}


def test_minus_all_bound_still_equality(spark, store):
    # regression guard for the fast path: no OPTIONAL anywhere → plain
    # hash anti join, same answer as before
    q = """
    SELECT ?s WHERE {
      ?s <http://ex/tag> ?t .
      MINUS { ?t <http://ex/bad> ?w }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/c",)}


def test_values_only_group(spark, store):
    q = """
    SELECT ?x WHERE {
      VALUES ?x { <http://ex/a> <http://ex/b> }
    }
    """
    assert rows(execute(store, q)) == {("http://ex/a",), ("http://ex/b",)}


def test_values_only_two_vars_undef(spark, store):
    q = """
    SELECT ?x ?y WHERE {
      VALUES (?x ?y) { (<http://ex/a> "1") (<http://ex/b> UNDEF) }
    }
    """
    got = rows(execute(store, q))
    assert got == {("http://ex/a", "1"), ("http://ex/b", None)}


def test_values_cells_keep_any_text(spark, store):
    # cells absent from the dictionary render from the VALUES table
    # itself: quotes, backslashes, brackets and non-ASCII survive it
    q = r"""
    SELECT ?x WHERE { VALUES ?x { "it's \"q\" \\ [{ü}]" "" } }
    """
    assert rows(execute(store, q)) == {("it's \"q\" \\ [{ü}]",), ("",)}
    assert rows(execute(store, "SELECT ?x WHERE { VALUES ?x { } }")) == set()


def test_values_only_with_bind(spark, store):
    q = """
    SELECT ?x ?y WHERE {
      VALUES ?x { "2"^^<http://www.w3.org/2001/XMLSchema#integer> }
      BIND(?x + 1 AS ?y)
    }
    """
    got = rows(execute(store, q))
    assert len(got) == 1
    (x, y), = got
    # engine convention: numeric VALUES/BIND results render in double
    # lexical form
    assert x in ("2", "2.0") and y in ("3", "3.0")
