"""Declared store schemas (operators/materialize.py ``SCHEMAS``).

Every store read opens its table against the declared schema instead of
inferring one from a parquet footer. That only holds if every writer
keeps producing exactly that layout, so:

- the contract test runs each store writer and compares every footer it
  leaves behind with ``SCHEMAS``, column by column;
- the open test pins that opening a table starts no Spark job;
- the lint keeps every parquet read of the store inside
  ``TripleStore._read``.
"""

import ast
import glob
import os
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hbase_rdf_spark.engine import KgEngine
from hbase_rdf_spark.operators.materialize import SCHEMAS, TripleStore
from hbase_rdf_spark.pipeline import build_kg
from hbase_rdf_spark.plans.update import execute_update
from hbase_rdf_spark.sources.synthetic import build_gazetteer, transcripts_df

PACKAGE = Path(__file__).resolve().parent.parent / "hbase_rdf_spark"

# Spark SQL type → the arrow type a parquet footer of that column reads as
_ARROW = {
    "bigint": pa.int64(),
    "int": pa.int32(),
    "tinyint": pa.int8(),
    "double": pa.float64(),
    "string": pa.string(),
}


def _declared(table: str) -> list[tuple[str, pa.DataType]]:
    return [
        (name, _ARROW[typ])
        for name, typ in (f.split() for f in SCHEMAS[table].split(","))
    ]


def _assert_footers_match(root: str, writer: str) -> None:
    for table in SCHEMAS:
        files = sorted(glob.glob(os.path.join(root, table, "*.parquet")))
        assert files, f"{writer}: no parquet files in {table}"
        want = _declared(table)
        for f in files:
            got = [(fld.name, fld.type) for fld in pq.read_schema(f)]
            assert got == want, (
                f"{writer} wrote {table}/{os.path.basename(f)} as {got}, "
                f"declared {want}"
            )


def _gazetteer(spark):
    return spark.createDataFrame(
        build_gazetteer(), "alias string, entity_id string, kind string"
    ).select("alias", "entity_id")


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("schemastore"))
    build_kg(spark, transcripts_df(spark, 12, seed=3), _gazetteer(spark), root,
             num_partitions=2)
    return root


def test_every_writer_keeps_declared_schema(spark, root, tmp_path):
    _assert_footers_match(root, "build_kg")
    eng = KgEngine(spark, root, num_partitions=2)

    eng.append(transcripts_df(spark, 16, seed=4), _gazetteer(spark))
    _assert_footers_match(root, "append")

    doc = tmp_path / "extra.nt"
    doc.write_text(
        '<http://ex/x> <http://ex/name> "Xena" .\n'
        '<http://ex/x> <http://ex/age> "33"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    )
    for writer, text in [
        ("INSERT DATA", 'INSERT DATA { GRAPH <http://ex/g1> { '
                        '<http://ex/a> <http://ex/knows> <http://ex/b> . '
                        '<http://ex/a> <http://ex/name> "Alice" } }'),
        ("LOAD", f"LOAD <{doc}> INTO GRAPH <http://ex/g1>"),
        ("DELETE WHERE", "DELETE WHERE { ?s <http://ex/name> \"Xena\" }"),
        ("ADD", "ADD <http://ex/g1> TO <http://ex/g2>"),
        ("COPY", "COPY <http://ex/g1> TO <http://ex/g3>"),
        ("MOVE", "MOVE <http://ex/g3> TO <http://ex/g4>"),
    ]:
        stats = eng.update(text)
        assert stats["inserted"] or stats["deleted"], f"{writer} was a no-op"
        _assert_footers_match(root, writer)

    TripleStore(spark, root, num_partitions=2).compact_all()
    _assert_footers_match(root, "compact")


def test_load_ntriples_keeps_declared_schema(spark, tmp_path):
    doc = tmp_path / "dump.nq"
    doc.write_text(
        '<http://ex/a> <http://ex/knows> <http://ex/b> <http://ex/g1> .\n'
        '<http://ex/a> <http://ex/name> "Alice"@en <http://ex/g1> .\n'
        '<http://ex/b> <http://ex/age> "41"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    )
    root = str(tmp_path / "ntstore")
    KgEngine(spark, root, num_partitions=2).load_ntriples(str(doc))
    _assert_footers_match(root, "load_ntriples")


def test_open_starts_no_spark_job(spark, root):
    store = TripleStore(spark, root)
    sc = spark.sparkContext
    group, fence = f"open-{uuid.uuid4().hex}", f"fence-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "open store tables")
    try:
        for df in (store.index("spo"), store.term2id(), store.id2term(),
                   store.provenance()):
            assert df.schema.fields
    finally:
        sc.setJobGroup(fence, "listener fence")
    # the status tracker is fed asynchronously by the listener bus, which
    # delivers events in order: once the fence job shows up, any job the
    # opens started would show up too
    try:
        spark.range(1).count()
        deadline = time.monotonic() + 30
        while (not sc.statusTracker().getJobIdsForGroup(fence)
               and time.monotonic() < deadline):
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(fence)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


# -- lint: parquet reads of the store go through TripleStore._read ----------

# (file relative to the package, enclosing function) allowed to read
# parquet; sources/wordkg.py reads sf input tables, not the store
_ALLOWED = {("operators/materialize.py", "_read"), ("sources/wordkg.py", None)}


def _reader_chain(node: ast.AST) -> bool:
    """Does this receiver chain pass through a ``.read`` attribute
    (a DataFrameReader), as in ``spark.read.schema(s).parquet``?"""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            node = node.func
            continue
        if node.attr == "read":
            return True
        node = node.value
    return False


def parquet_reads(source: str, rel: str) -> list[str]:
    """``file:line`` of every parquet read in ``source`` outside the
    allowed sites."""
    found = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and _reader_chain(node.func.value)
            and (rel, func) not in _ALLOWED
            and (rel, None) not in _ALLOWED
        ):
            found.append(f"{rel}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(source), None)
    return found


def test_store_reads_only_through_read():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        found += parquet_reads(path.read_text(), rel)
    assert found == [], (
        "parquet read outside TripleStore._read (open store tables with "
        f"their declared schema): {found}"
    )


def test_store_read_lint_catches_violation():
    seeded = (
        "class TripleStore:\n"
        "    def _read(self, table):\n"
        "        return self.spark.read.schema(SCHEMAS[table]).parquet(table)\n"
        "    def id2term(self):\n"
        "        return self.spark.read.parquet(self.path('id2term'))\n"
        "    def write(self, df):\n"
        "        df.write.mode('append').parquet(self.path('id2term'))\n"
    )
    assert parquet_reads(seeded, "operators/materialize.py") == [
        "operators/materialize.py:5"
    ]
    assert parquet_reads(seeded, "sources/wordkg.py") == []
