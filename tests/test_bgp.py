"""BGP planner + executor tests: reorder parity, joins, OPTIONAL,
filters, late materialization — against a hand-built store."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hbase_rdf_spark.engine import KgEngine
from hbase_rdf_spark.functions.encoding import (
    build_dictionaries,
    encode_quads,
)
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.bgp import (
    Bgp,
    execute_bgp,
    materialize,
    reorder,
)

TRIPLES = [
    # conv, turn, subj, pred, obj, kind
    ("c1", 0, "ent:p/a", "rel:works_at", "ent:o/x", 0),
    ("c1", 1, "ent:p/b", "rel:works_at", "ent:o/x", 0),
    ("c1", 2, "ent:p/c", "rel:works_at", "ent:o/y", 0),
    ("c2", 0, "ent:p/a", "rel:lives_in", "ent:c/ams", 0),
    ("c2", 1, "ent:p/b", "rel:lives_in", "ent:c/ber", 0),
    ("c2", 2, "ent:o/x", "rel:located_in", "ent:c/ams", 0),
    ("c2", 3, "ent:o/y", "rel:located_in", "ent:c/ber", 0),
    ("c3", 0, "ent:p/a", "rel:age", "41", 2),
    ("c3", 1, "ent:p/b", "rel:age", "29", 2),
    ("c3", 2, "ent:p/c", "rel:age", "35", 2),
    ("c3", 3, "ent:p/a", "rel:nickname", "Ace", 1),
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bgpstore"))
    resolved = spark.createDataFrame(
        TRIPLES,
        "conv_id string, turn_idx int, subj string, pred string, obj string, obj_kind tinyint",
    )
    st = TripleStore(spark, root, num_partitions=4)
    t2i, i2t = build_dictionaries(resolved)
    st.write_dictionaries(t2i, i2t, "t")
    st.write_indexes(encode_quads(resolved), "t")
    return st


def test_reorder_weights():
    p_open = Bgp("?x", "?p", "?y")          # ??? → 8
    p_s = Bgp("ent:p/a", "?p", "?y")        # s?? → 5
    p_po = Bgp("?x", "rel:age", ("41", 2))  # ?po → 4
    p_spo = Bgp("ent:p/a", "rel:age", "?v") # sp? → 2
    order = reorder([p_open, p_s, p_po, p_spo])
    assert order[0] == p_spo and order[-1] is not p_spo
    # filtered twin outranks unfiltered
    f = Bgp("?x", "rel:age", "?v", filtered=True)
    u = Bgp("?x", "rel:age", "?v")
    assert reorder([u, f])[0] is f


def test_bound_var_promotion():
    # after choosing (a, works_at, ?o), pattern (?o, located_in, ?c)
    # promotes ?o → TERM: mask s?? (5) beats ??? twin
    p1 = Bgp("ent:p/a", "rel:works_at", "?o")
    p2 = Bgp("?o", "rel:located_in", "?c")
    p3 = Bgp("?z", "rel:lives_in", "?w")
    order = reorder([p3, p2, p1])
    assert order[0] is p1 and order[1] is p2


def test_two_pattern_join(spark, store):
    # who works at a company located in ams?
    res = execute_bgp(
        store,
        [
            Bgp("?person", "rel:works_at", "?org"),
            Bgp("?org", "rel:located_in", "ent:c/ams"),
        ],
    )
    out = materialize(res, store, ["?person", "?org"]).toPandas()
    got = set(map(tuple, out.itertuples(index=False)))
    assert got == {("ent:p/a", "ent:o/x"), ("ent:p/b", "ent:o/x")}


def test_three_pattern_join_with_filter(spark, store):
    out = KgEngine(spark, store.root).sql(
        "SELECT ?person ?age WHERE { ?person <rel:works_at> ?org . "
        "?person <rel:age> ?age FILTER(?age > 30) }"
    ).toPandas()
    got = set(map(tuple, out.itertuples(index=False)))
    assert got == {("ent:p/a", "41.0"), ("ent:p/c", "35.0")}


def test_optional_left_join(spark, store):
    out = KgEngine(spark, store.root).sql(
        "SELECT ?person ?nick WHERE { ?person <rel:works_at> ?org "
        "OPTIONAL { ?person <rel:nickname> ?nick } }"
    ).toPandas()
    assert len(out) == 3
    nicks = dict(zip(out["person"], out["nick"]))
    assert nicks["ent:p/a"] == "Ace"
    assert pd.isna(nicks["ent:p/b"]) and pd.isna(nicks["ent:p/c"])


def test_unknown_constant_yields_empty(spark, store):
    res = execute_bgp(store, [Bgp("ent:p/nobody", "rel:works_at", "?org")])
    assert res.count() == 0


def test_numeric_object_binding_join(spark, store):
    # ?x age ?v , ?y age ?v → same-age pairs (join on numeric binding)
    res = execute_bgp(
        store,
        [Bgp("?x", "rel:age", "?v"), Bgp("?y", "rel:age", "?v")],
    )
    # 3 people, all distinct ages → only self-pairs
    assert res.count() == 3
