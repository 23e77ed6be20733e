"""Incremental append (S7 analog): batch-equivalence, idempotence and
compaction of the appended layers."""

import glob

import pytest
from pyspark.sql import functions as F

from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.pipeline import build_kg
from hbase_rdf_spark.sources.synthetic import build_gazetteer, transcripts_df
from hbase_rdf_spark.streaming.incremental import append_batch


@pytest.fixture(scope="module")
def gaz(spark):
    return spark.createDataFrame(
        build_gazetteer(), "alias string, entity_id string, kind string"
    ).select("alias", "entity_id")


def test_append_equals_full_build(spark, gaz, tmp_path_factory):
    root_inc = str(tmp_path_factory.mktemp("inc"))
    root_full = str(tmp_path_factory.mktemp("full"))

    build_kg(spark, transcripts_df(spark, 30, seed=9), gaz, root_inc)
    store = TripleStore(spark, root_inc)
    r = append_batch(store, transcripts_df(spark, 15, seed=9, conv_offset=30), gaz)
    assert r["appended_quads"] > 0

    build_kg(spark, transcripts_df(spark, 45, seed=9), gaz, root_full)
    full = TripleStore(spark, root_full)

    a = store.index("spo").select("s", "p", "o", "o_kind", "o_num", "c")
    b = full.index("spo").select("s", "p", "o", "o_kind", "o_num", "c")
    # content-hash ids ⇒ incremental == batch, exactly
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # dictionaries converge too
    da, db = store.id2term(), full.id2term()
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0


def test_stream_transcripts_foreachbatch(spark, gaz, tmp_path_factory):
    """Structured Streaming path: file-source transcript stream drained
    via foreachBatch(append_batch) converges to the full-build store."""
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "incoming")
    root = str(base / "store")
    ckpt = str(base / "ckpt")

    build_kg(spark, transcripts_df(spark, 12, seed=3), gaz, root)
    store = TripleStore(spark, root)
    before = store.index("spo").count()

    new_batch = transcripts_df(spark, 8, seed=3, conv_offset=12)
    new_batch.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    from hbase_rdf_spark.streaming.incremental import stream_transcripts

    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_transcripts(store, stream, gaz, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    after = store.index("spo").count()
    assert after > before

    # streamed store == one-shot build over the union
    root_full = str(base / "full")
    build_kg(spark, transcripts_df(spark, 20, seed=3), gaz, root_full)
    full = TripleStore(spark, root_full)
    a = store.index("spo").select("s", "p", "o", "o_kind", "o_num", "c")
    b = full.index("spo").select("s", "p", "o", "o_kind", "o_num", "c")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_append_idempotent(spark, gaz, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idem"))
    build_kg(spark, transcripts_df(spark, 20, seed=5), gaz, root)
    store = TripleStore(spark, root)
    before = store.index("spo").count()
    r = append_batch(store, transcripts_df(spark, 20, seed=5), gaz)
    assert r["appended_quads"] == 0 and r["appended_terms"] == 0
    assert store.index("spo").count() == before


def test_compaction_preserves_content_and_restores_layout(spark, gaz, tmp_path):
    root = str(tmp_path / "kg")
    build_kg(spark, transcripts_df(spark, 20, seed=13), gaz, root)
    store = TripleStore(spark, root)
    for off in (20, 30, 40):
        append_batch(store, transcripts_df(spark, 10, seed=13, conv_offset=off), gaz)

    before = store.index("spo")
    rows_before = before.count()
    files_before = len(glob.glob(root + "/triples_spo/part-*.parquet"))
    content = before.orderBy("s", "p", "o_kind", "o", "o_num", "c").collect()

    stats = store.compact_all()
    assert stats["spo"] == rows_before

    after = store.index("spo")
    files_after = len(glob.glob(root + "/triples_spo/part-*.parquet"))
    assert files_after < files_before  # 4 append layers collapsed
    assert after.orderBy("s", "p", "o_kind", "o", "o_num", "c").collect() == content
