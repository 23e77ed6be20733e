"""Spark-job budget of the write paths, and the session defaults they
rely on.

A warm write on a small store is bound by its number of Spark jobs, not
by its rows, so the job count of each write is pinned exactly: the
counts repeat run to run for the same input, and a recount or a
per-table manifest job added back shows here as a changed number. Jobs
are counted like ``perfbench``'s tracer does it: the jobs of the
operation's job group, plus the ungrouped jobs that the writer threads
start (a job group is a thread-local property).
"""

import json
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from hbase_rdf_spark.engine import KgEngine
from hbase_rdf_spark.functions import lineage
from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import INDEXES, SCHEMAS, TripleStore
from hbase_rdf_spark.session import ENGINE_CONF
from hbase_rdf_spark.sources.ntriples import parse_lines, quads as nt_quads
from hbase_rdf_spark.sources.synthetic import build_gazetteer, transcripts_df

BASE_CONVS, APPEND_CONVS = 20, 4
GRAPH = "http://example.org/doc/g"

# exact Spark jobs per write on this module's store (see the docstring)
JOBS = {"append": 24, "load": 16, "delete": 24}


def _nquads_doc() -> str:
    lines = []
    for n in range(12):
        g = f" <{GRAPH}>" if n % 2 else ""
        o = (f'"{n}"^^<http://www.w3.org/2001/XMLSchema#integer>' if n % 3 == 0
             else f'"label {n}"@en' if n % 3 == 1 else "<http://example.org/o>")
        lines.append(f"<http://example.org/s{n}> <http://example.org/p{n % 4}> {o}{g} .")
    return "\n".join(lines) + "\n"


def _frame_manifest(df) -> list[dict]:
    """``partition_manifest`` of one frame on its own, no union."""
    rows = (
        df.select(F.spark_partition_id().alias("pid"),
                  F.xxhash64(*df.columns).alias("h"))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("rows"),
             F.expr("bit_xor(h)").alias("content_hash"))
        .orderBy("pid")
        .collect()
    )
    return [{"partition_id": r["pid"], "rows": r["rows"],
             "content_hash": r["content_hash"]} for r in rows]


def _jobs(spark, group: str, fn):
    """(result of ``fn()``, number of Spark jobs it started)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(st.getJobIdsForGroup(group))
    jobs |= set(st.getJobIdsForGroup(None)) - ungrouped
    return out, len(jobs)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg"))
    gaz = spark.createDataFrame(
        build_gazetteer(), "alias string, entity_id string, kind string"
    ).select("alias", "entity_id")
    eng = KgEngine(spark, root)
    eng.build(transcripts_df(spark, BASE_CONVS, seed=5), gaz, input_sig="jobs:5")
    return eng, gaz


def test_write_job_counts(spark, engine, tmp_path):
    eng, gaz = engine
    doc = tmp_path / "doc.nq"
    doc.write_text(_nquads_doc())
    slice_df = transcripts_df(spark, APPEND_CONVS, seed=5, conv_offset=BASE_CONVS)
    slice_df.cache().count()  # the input itself is not the write's work

    appended, n_append = _jobs(spark, "jobs-append", lambda: eng.append(slice_df, gaz))
    loaded, n_load = _jobs(spark, "jobs-load",
                           lambda: eng.update(f"LOAD <file://{doc}>"))
    deleted, n_delete = _jobs(
        spark, "jobs-delete",
        lambda: eng.update(f"DELETE WHERE {{ GRAPH <{GRAPH}> {{ ?s ?p ?o }} }}"),
    )
    slice_df.unpersist()

    assert appended["appended_quads"] > 0 and appended["appended_terms"] > 0
    assert loaded == {"inserted": 12, "deleted": 0}
    assert deleted == {"inserted": 0, "deleted": 6}
    assert {"append": n_append, "load": n_load, "delete": n_delete} == JOBS


def test_batched_manifests_equal_per_frame_manifests(spark, tmp_path, monkeypatch):
    """One ``write_indexes`` call: the one-job manifests equal
    ``partition_manifest`` of each arranged frame, and each partition's
    entry describes the file that partition wrote."""
    parsed = parse_lines(spark.createDataFrame(
        [(line,) for line in _nquads_doc().splitlines()], "value string"))
    resolved = nt_quads(parsed).localCheckpoint(eager=True)
    t2i, i2t = build_dictionaries(resolved)
    store = TripleStore(spark, str(tmp_path / "kg"), num_partitions=3)
    store.write_dictionaries(t2i, i2t, "m")

    calls = []
    batched = lineage.partition_manifests

    def spy(dfs):
        out = batched(dfs)
        # the frames are still cached here, as they are for the batch
        calls.append((out, [_frame_manifest(df) for df in dfs]))
        return out

    monkeypatch.setattr(lineage, "partition_manifests", spy)
    store.write_indexes(encode_quads(resolved), "m")

    assert len(calls) == 1  # one manifest job for every table written
    out, per_frame = calls[0]
    assert len(out) == len(INDEXES) + 1  # the three indexes + provenance
    assert out == per_frame
    for name in INDEXES:
        tdir = store.path(f"triples_{name}")
        parts = lineage.read_manifest(tdir)["partitions"]
        assert parts in out
        assert max(p["partition_id"] for p in parts) > 0
        for p in parts:
            (f,) = [f for f in os.listdir(tdir)
                    if f.startswith(f"part-{p['partition_id']:05d}-")]
            on_disk = lineage.table_signature(spark.read.schema(
                SCHEMAS[f"triples_{name}"]).parquet(os.path.join(tdir, f)))
            assert on_disk == {"rows": p["rows"],
                               "content_hash": p["content_hash"]}
        assert json.load(open(lineage.manifest_path(tdir)))["sort_order"] == \
            INDEXES[name][1]


def test_session_captures_no_dataframe_origin(spark):
    """``get_spark`` (which built the ``spark`` fixture) turns PySpark's
    per-call origin capture off; an analysis error still carries its
    class."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select("no_such_column")
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"


def test_session_sizes_the_codegen_cache(spark):
    """``get_spark`` keeps 2,000 generated classes per JVM, the engine's
    working set with room to spare (see ``tests/test_codegen_reuse.py``);
    Spark's default is 100."""
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == ENGINE_CONF[key] == "2000"
