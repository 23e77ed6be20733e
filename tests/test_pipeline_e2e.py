"""End-to-end: transcripts → triple store, P/R vs the oracle emitter,
pattern scans vs brute force (FIXTURES.md §2, §5)."""

import pandas as pd
import pytest

from hbase_rdf_spark.functions.oracle import emit_reference_triples, precision_recall
from hbase_rdf_spark.pipeline import build_kg
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.plans.patterns import TriplePattern, route, scan
from hbase_rdf_spark.sources.synthetic import build_gazetteer, transcripts_df, transcripts_pdf

N_CONVS = 150


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg"))
    transcripts = transcripts_df(spark, N_CONVS, seed=42)
    gaz = spark.createDataFrame(build_gazetteer(), "alias string, entity_id string, kind string")
    stats = build_kg(spark, transcripts, gaz.select("alias", "entity_id"), root,
                     verify_invariant=True)
    store = TripleStore(spark, root)
    oracle = emit_reference_triples(transcripts_pdf(N_CONVS, seed=42))
    return store, stats, oracle


def _predicted(spark, store) -> pd.DataFrame:
    """Decode the SPO index back to lexical triples via the dictionary."""
    spo = store.index("spo")
    d = store.id2term()
    from pyspark.sql import functions as F

    out = (
        spo.join(d.select(F.col("id").alias("s"), F.col("label").alias("subj")), "s")
        .join(d.select(F.col("id").alias("p"), F.col("label").alias("pred")), "p")
        .join(
            d.select(F.col("id").alias("o"), F.col("label").alias("_obj_lex")),
            "o",
            "left",
        )
        .select(
            "subj",
            "pred",
            F.coalesce(
                F.col("_obj_lex"),
                F.when(
                    F.col("o_num") == F.floor("o_num"),
                    F.col("o_num").cast("long").cast("string"),
                ).otherwise(F.col("o_num").cast("string")),
            ).alias("obj"),
            "o_kind",
        )
    )
    return out.toPandas()


def test_precision_recall_vs_oracle(spark, built):
    store, stats, oracle = built
    pred = _predicted(spark, store)
    p, r = precision_recall(pred, oracle)
    assert p >= 0.95, f"precision {p:.4f} < 0.95"
    assert r >= 0.95, f"recall {r:.4f} < 0.95"
    # LSH must be doing real work: typo variants are ~8% of mentions
    assert stats["links"].get("lsh", 0) > 0


def test_index_tables_identical_row_sets(spark, built):
    store, _, _ = built
    spo = store.index("spo")
    for other in ("pos", "osp"):
        o = store.index(other)
        assert spo.count() == o.count()
        assert spo.exceptAll(o).count() == 0


def test_pattern_routing():
    assert route(TriplePattern()) == "spo"
    assert route(TriplePattern(s="x")) == "spo"
    assert route(TriplePattern(p="x")) == "pos"
    assert route(TriplePattern(o=("x", 0))) == "osp"
    assert route(TriplePattern(s="x", o=("y", 0))) == "osp"
    assert route(TriplePattern(p="x", o_range=(1, 2))) == "pos"


def test_pattern_scans_match_bruteforce(spark, built):
    store, _, oracle = built
    o = oracle.drop_duplicates(["subj", "pred", "obj"])

    # pick a concrete subject/pred/object present in the oracle
    ent_rows = o[o["obj_kind"] == 0]
    subj = ent_rows["subj"].iloc[0]
    pred = ent_rows["pred"].iloc[0]

    got = scan(store, TriplePattern(s=subj)).count()
    want = len(o[o["subj"] == subj])
    assert got == want

    got = scan(store, TriplePattern(p=pred)).count()
    want = len(o[o["pred"] == pred])
    assert got == want

    got = scan(store, TriplePattern(s=subj, p=pred)).count()
    want = len(o[(o["subj"] == subj) & (o["pred"] == pred)])
    assert got == want


def test_numeric_range_scan(spark, built):
    store, _, oracle = built
    o = oracle.drop_duplicates(["subj", "pred", "obj"])
    ages = o[o["pred"] == "rel:age"]
    want = len(ages[(ages["obj"].astype(float) >= 30) & (ages["obj"].astype(float) <= 50)])
    got = scan(store, TriplePattern(p="rel:age", o_range=(30, 50))).count()
    assert got == want


def test_engine_cache_pins_indexes(spark, built):
    from hbase_rdf_spark.engine import KgEngine

    store, _, _ = built
    eng = KgEngine(spark, store.root)
    try:
        eng.cache()
        assert all(df.storageLevel.useMemory for df in eng._cached)
        # scans still answer correctly through the cached relations
        df = eng.scan(TriplePattern(p="rel:works_at"))
        assert df.count() > 0
        # ... and actually read them: the scan's relation must match the
        # cached one, or the cache is pinned but never used
        assert "InMemoryTableScan" in (
            df._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        eng.uncache()
        assert eng._cached == []


def test_repeated_projected_variable(spark, built):
    from hbase_rdf_spark.engine import KgEngine
    from hbase_rdf_spark.service import results_json

    store, _, _ = built
    eng = KgEngine(spark, store.root)
    once = results_json(eng.sql(
        "SELECT ?x WHERE { ?x <rel:knows> ?y }", with_kinds=True
    ))
    twice = results_json(eng.sql(
        "SELECT ?x ?x WHERE { ?x <rel:knows> ?y }", with_kinds=True
    ))
    assert twice["head"]["vars"] == ["x", "x"]
    key = lambda b: b["x"]["value"]  # noqa: E731
    assert once["results"]["bindings"]
    assert sorted(twice["results"]["bindings"], key=key) == sorted(
        once["results"]["bindings"], key=key
    )


def test_partial_resume_rebuilds_only_missing_stage(spark, tmp_path):
    """Kill-and-restart semantics: wipe ONE index table, rerun — the
    missing stage rebuilds byte-identically while completed stages are
    skipped (their manifests carry the same input_sig)."""
    import shutil

    from hbase_rdf_spark.functions import lineage

    gaz = spark.createDataFrame(
        build_gazetteer(), "alias string, entity_id string, kind string"
    ).select("alias", "entity_id")
    root = str(tmp_path / "kg")
    build_kg(spark, transcripts_df(spark, 40, seed=11), gaz, root)
    pos_manifest = lineage.read_manifest(root + "/triples_pos")
    dict_mtime = __import__("os").path.getmtime(root + "/term2id/_lineage.json")

    shutil.rmtree(root + "/triples_pos")
    build_kg(spark, transcripts_df(spark, 40, seed=11), gaz, root)

    rebuilt = lineage.read_manifest(root + "/triples_pos")
    assert rebuilt["total_rows"] == pos_manifest["total_rows"]
    assert [p["content_hash"] for p in rebuilt["partitions"]] == [
        p["content_hash"] for p in pos_manifest["partitions"]
    ]
    # untouched stage was skipped, not rewritten
    assert (
        __import__("os").path.getmtime(root + "/term2id/_lineage.json")
        == dict_mtime
    )


def test_resume_reproduces_identical_store(spark, tmp_path):
    """FIXTURES.md §7: independent runs over the same input write
    identical content (hash ids ⇒ byte-stable semantics), and a resumed
    run skips completed stages while reporting the same manifests."""
    from hbase_rdf_spark.functions import lineage

    gaz = spark.createDataFrame(
        build_gazetteer(), "alias string, entity_id string, kind string"
    ).select("alias", "entity_id")
    roots = [str(tmp_path / "kg_a"), str(tmp_path / "kg_b")]
    stats = [
        build_kg(spark, transcripts_df(spark, 40, seed=7), gaz, r) for r in roots
    ]
    assert stats[0]["resolved_triples"] == stats[1]["resolved_triples"]
    s1 = TripleStore(spark, roots[0]).index("spo")
    s2 = TripleStore(spark, roots[1]).index("spo")
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0
    m1 = lineage.read_manifest(roots[0] + "/triples_spo")
    m2 = lineage.read_manifest(roots[1] + "/triples_spo")
    assert m1["total_rows"] == m2["total_rows"]
    assert [p["content_hash"] for p in m1["partitions"]] == [
        p["content_hash"] for p in m2["partitions"]
    ]
    # third run against an existing store resumes: stages skipped, same sig
    stats3 = build_kg(spark, transcripts_df(spark, 40, seed=7), gaz, roots[0])
    assert stats3["input_sig"] == stats[0]["input_sig"]
