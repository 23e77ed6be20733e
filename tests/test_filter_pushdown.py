"""FILTER pushdown into the parquet scans (SURVEY J6: Catalyst does it).

Every FILTER conjunct compiles to one Column predicate over binding
structs; Catalyst collapses the projections above the scan and pushes
the id-space comparisons down as parquet ``PushedFilters``. These tests
read the executed plan and assert what reaches each scan — a change
here is a change in what the scans prune.
"""

import re

import pytest
from pyspark.sql import functions as F

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.expr import Expr
from hbase_rdf_spark.plans.sparql import execute, parse
from hbase_rdf_spark.sources.ntriples import parse_lines, quads

XSD_I = "http://www.w3.org/2001/XMLSchema#integer"

NQ = (
    [f'<http://ex/s{i}> <http://ex/n> "{i}"^^<{XSD_I}> .' for i in range(1, 6)]
    + [f"<http://ex/s{i}> <http://ex/r> <http://ex/o{i % 2}> ." for i in range(1, 6)]
    + [f"<http://ex/s{i}> <http://ex/in> <http://ex/c> ." for i in range(3, 7)]
)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pushstore"))
    lines = spark.createDataFrame([(l,) for l in NQ], "value string")
    resolved = quads(parse_lines(lines))
    st = TripleStore(spark, root, num_partitions=2)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "nq")
    st.write_indexes(encode_quads(resolved), "nq")
    # untruncated scan metadata in the plan string
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    yield st
    spark.conf.set(key, old)


def _id(store, iri: str) -> int:
    return store.id2term().filter(F.col("label") == iri).first()["id"]


def scan_of(df, store, pred: str) -> str:
    """The PushedFilters of the one parquet scan over predicate ``pred``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"PushedFilters: \[(.*?)\], ReadSchema", plan)
    hits = [f for f in scans if f"EqualTo(p,{_id(store, pred)})" in f]
    assert len(hits) == 1, scans
    return hits[0]


def subjects(df) -> list[str]:
    return sorted(r[0] for r in df.collect())


@pytest.mark.parametrize("cond", ["?a > 3", "3 < ?a"])
def test_numeric_comparison_pushes_to_o_num(store, cond):
    df = execute(store, f"SELECT ?s WHERE {{ ?s <http://ex/n> ?a FILTER({cond}) }}")
    assert "GreaterThan(o_num,3.0)" in scan_of(df, store, "http://ex/n")
    assert subjects(df) == ["http://ex/s4", "http://ex/s5"]


def test_in_list_pushes_as_or_of_equalities(store):
    df = execute(store, "SELECT ?s WHERE { ?s <http://ex/n> ?a FILTER(?a IN (2, 3)) }")
    assert "Or(EqualTo(o_num,2.0),EqualTo(o_num,3.0))" in scan_of(
        df, store, "http://ex/n")
    assert subjects(df) == ["http://ex/s2", "http://ex/s3"]


def test_iri_equality_pushes_the_hashed_id(store):
    df = execute(
        store, "SELECT ?s WHERE { ?s <http://ex/r> ?o FILTER(?o = <http://ex/o1>) }")
    assert f"EqualTo(o,{_id(store, 'http://ex/o1')})" in scan_of(
        df, store, "http://ex/r")
    assert subjects(df) == ["http://ex/s1", "http://ex/s3", "http://ex/s5"]


def test_optional_filter_stays_above_the_left_join(store):
    # the `optional` benchmark template's shape: the filter reads the
    # OPTIONAL var, so it must not reach the optional side's scan — a
    # pushed o_num bound would turn a failing ?a into an unbound one
    # that !BOUND then accepts
    df = execute(store, """
        SELECT DISTINCT ?x ?a WHERE { ?x <http://ex/in> <http://ex/c>
          OPTIONAL { ?x <http://ex/n> ?a } FILTER(!BOUND(?a) || ?a >= 4) }""")
    assert "o_num" not in scan_of(df, store, "http://ex/n")
    assert f"EqualTo(o,{_id(store, 'http://ex/c')})" in scan_of(
        df, store, "http://ex/in")
    assert subjects(df) == ["http://ex/s4", "http://ex/s5", "http://ex/s6"]


def test_top_level_conjunction_splits_into_one_node_per_conjunct():
    q = parse(
        "SELECT ?s WHERE { ?s <http://ex/p> ?a ; <http://ex/q> ?b "
        "FILTER(?a > 1 && ?b < 5 && ?a != ?b) }"
    )
    assert [type(f) for f in q.filters] == [Expr] * 3
    assert [f.vars() for f in q.filters] == [{"a"}, {"b"}, {"a", "b"}]


def test_non_linear_filter_stays_one_general_node():
    q = parse(
        "SELECT ?s WHERE { ?s <http://ex/p> ?a ; <http://ex/t> ?p "
        "FILTER((?p - 2) * ?a > 0) }"
    )
    assert len(q.filters) == 1 and isinstance(q.filters[0], Expr)
    assert q.filters[0].vars() == {"p", "a"}
