"""Stage 6 — MATERIALIZE: the tripartite sorted triple indexes.

The reference materializes every quad six times into permutation-sorted
HBase tables (SPOC POCS OCSP CSPO CPSO OSPC,
reference: schema/HBPrefixMatchSchema.java:41-51) because HBase can only
range-scan a row-key prefix. A columnar engine needs only the three
permutations whose *sort prefix* can serve some bound-column set —
SPO / POS / OSP — context filters are ordinary column predicates (no
C-first tables needed, they existed only because the row key was the
sole index).

Each index table is written

- ``repartitionByRange`` on its leading key columns — the analog of the
  reference's engineered region pre-splits
  (reference: schema/HBPrefixMatchSchema.java:439-527), but computed by
  sampling instead of counter bookkeeping, and
- ``sortWithinPartitions`` on the full permutation — so every parquet
  file covers a tight (min, max) range of the sort key and Catalyst's
  pushed-down equality/range predicates prune both partitions and
  row-groups: the columnar replacement for HBase prefix scans
  (reference: operations/HBPrefixMatchOperationManager.java:203-328).

On a real cluster these become Iceberg tables (``WRITE ORDERED BY``);
the parquet layout used here is bit-identical in plan terms (sorted
files + min/max stats) and keeps the sandbox dependency-free. Writing
3 sorted copies from one cached upstream DataFrame replaces the
reference's per-table MapReduce passes + HFile adoption
(reference: bulkload/BulkLoad.java:44-116).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hbase_rdf_spark.functions import lineage

# permutation → (range-partition keys, full within-partition sort order)
INDEXES: dict[str, tuple[list[str], list[str]]] = {
    "spo": (["s", "p"], ["s", "p", "o_kind", "o", "o_num", "c"]),
    "pos": (["p", "o"], ["p", "o_kind", "o", "o_num", "s", "c"]),
    "osp": (["o", "s"], ["o_kind", "o", "o_num", "s", "p", "c"]),
}

QUAD_COLS = ["s", "p", "o", "o_kind", "o_num", "c"]
PROV_COLS = QUAD_COLS + ["conv_id", "turn_idx"]

# Declared layout of every store table, in the column order the writers
# produce — the parquet stand-in for an Iceberg catalog schema. Reads
# open tables against these instead of inferring a schema from a file
# footer, which would cost a Spark job per table handle.
_QUAD_DDL = "s bigint, p bigint, o bigint, o_kind tinyint, o_num double, c bigint"
SCHEMAS: dict[str, str] = {
    **{f"triples_{name}": _QUAD_DDL for name in INDEXES},
    "term2id": "term string, kind tinyint, id bigint",
    "id2term": "id bigint, kind tinyint, label string",
    "provenance": _QUAD_DDL + ", conv_id string, turn_idx int",
}


ROWS_PER_PARTITION = 2_000_000  # ≈100-150 MB parquet per sorted file


class TripleStore:
    """Directory-backed tripartite triple store + dictionaries.

    Layout under ``root``::

        triples_spo/  triples_pos/  triples_osp/   (sorted parquet + lineage)
        term2id/      id2term/                     (dictionaries)
        provenance/                                (quad → conv_id, turn_idx)

    Partition policy: unless ``num_partitions`` is forced, each table is
    range-partitioned into ``ceil(rows / ROWS_PER_PARTITION)`` partitions
    — ~100-150 MB sorted parquet files at any scale (the analog of the
    reference's counter-driven region split computation,
    reference: schema/HBPrefixMatchSchema.java:439-527, but sampled by
    repartitionByRange instead of tracked by a Counters table).
    """

    def __init__(self, spark: SparkSession, root: str, num_partitions: int | None = None):
        self.spark = spark
        self.root = root
        self.n = num_partitions  # None → adaptive per write

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    MIN_ROWS_PER_PARTITION = 50_000  # below this, more tasks = pure overhead

    def _parts_for(self, rows: int) -> int:
        """File-size-targeted partition count with a parallelism floor.

        Primary target: ~ROWS_PER_PARTITION rows (~100-150 MB) per sorted
        file. But when that would leave cores idle (small-to-medium
        tables), widen to cluster parallelism as long as each task keeps
        >= MIN_ROWS_PER_PARTITION rows — sorts and parquet encoding then
        scale with the cluster instead of serializing on one task.
        """
        if self.n:
            return self.n
        by_size = -(-rows // ROWS_PER_PARTITION)
        cores = self.spark.sparkContext.defaultParallelism
        # 2 tasks/core: a single wave makes the slowest sort+encode task
        # the stage wall time; two waves absorb stragglers
        by_cores = min(2 * cores, max(1, rows // self.MIN_ROWS_PER_PARTITION))
        return max(1, min(100_000, max(by_size, by_cores)))

    # -- write ------------------------------------------------------------
    def _write_arranged(self, writes: list[tuple], input_sig: str) -> dict:
        """Write each ``(table, stage, frame, extra)`` whose stage has not
        finished on ``input_sig``, then record all their manifests.

        The writes are submitted CONCURRENTLY from driver threads: they
        share a cached upstream, so overlapping them hides each write's
        fixed job latencies and keeps the cluster busy — the reference
        achieved the same overlap only via server-side coprocessor
        fan-out (reference: coprocessor/CoprocessorBulkLoad.java:98-114).
        The manifests come from the cached write-side frames (identical
        partitioning to the written files, no disk re-read), all of them
        in one Spark job. Returns ``{table: total_rows}``, a resumed
        table's from its manifest."""
        from concurrent.futures import ThreadPoolExecutor

        totals: dict[str, int] = {}
        todo = []
        for table, stage, frame, extra in writes:
            if lineage.stage_complete(self.path(table), input_sig):
                totals[table] = lineage.read_manifest(self.path(table))["total_rows"]
            else:
                todo.append((table, stage, frame, extra))
        arranged: list[DataFrame | None] = [None] * len(todo)

        def _write_one(i: int) -> None:
            table, _, frame, _ = todo[i]
            arranged[i] = frame().persist()
            arranged[i].write.mode("overwrite").parquet(self.path(table))

        try:
            if todo:
                with ThreadPoolExecutor(max_workers=len(todo)) as ex:
                    list(ex.map(_write_one, range(len(todo))))
                manifests = lineage.partition_manifests(arranged)
                for (table, stage, _, extra), parts in zip(todo, manifests):
                    m = lineage.write_manifest(
                        self.path(table), stage, input_sig, parts, extra
                    )
                    totals[table] = m["total_rows"]
        finally:
            for df in arranged:
                if df is not None:
                    df.unpersist()
        return totals

    def write_indexes(self, quads: DataFrame, input_sig: str = "") -> dict:
        """Write the three permutation-sorted index tables from one pass.

        ``quads`` must carry QUAD_COLS (+ optional provenance columns,
        which also write the ``provenance`` table). The upstream is
        persisted once; each index write is a range shuffle + local
        sort + parquet write, all three concurrent (``_write_arranged``).
        Returns ``{index: total_rows}``; every index holds every row.
        """
        body = quads.select(*QUAD_COLS).persist()
        try:
            n_parts = self._parts_for(body.count())  # materializes the cache

            def _arranged(range_keys, sort_keys):
                return lambda: body.repartitionByRange(
                    n_parts, *range_keys
                ).sortWithinPartitions(*sort_keys)

            writes = [
                (f"triples_{name}", f"materialize_{name}",
                 _arranged(range_keys, sort_keys), {"sort_order": sort_keys})
                for name, (range_keys, sort_keys) in INDEXES.items()
            ]
            if "conv_id" in quads.columns:
                writes.append((
                    "provenance", "provenance",
                    lambda: quads.select(*PROV_COLS), None,
                ))
            totals = self._write_arranged(writes, input_sig)
        finally:
            body.unpersist()
        return {name: totals[f"triples_{name}"] for name in INDEXES}

    def write_dictionaries(
        self, term2id: DataFrame, id2term: DataFrame, input_sig: str = ""
    ) -> None:
        def _arranged(df, keys):
            return lambda: df.repartitionByRange(
                self._parts_for(df.count() if self.n is None else 0), *keys
            ).sortWithinPartitions(*keys)

        # both dictionaries derive from one cached upstream
        self._write_arranged([
            ("term2id", "term2id", _arranged(term2id, ["term"]), None),
            ("id2term", "id2term", _arranged(id2term, ["id"]), None),
        ], input_sig)

    def append_rows(self, table: str, rows: DataFrame) -> None:
        """Append ``rows`` to ``table`` in its declared column order (a
        USING join moves its key column first)."""
        cols = [f.split()[0] for f in SCHEMAS[table].split(",")]
        rows.select(*cols).write.mode("append").parquet(self.path(table))

    def compact(self, name: str, input_sig: str = "compact") -> dict:
        """Rewrite one index table into freshly range-partitioned, sorted
        files — the Iceberg ``rewrite_data_files`` analog.

        Incremental appends (streaming/incremental.py) add per-batch
        sorted files; per-file min/max stats stay valid but global
        clustering—and therefore file-pruning selectivity—degrades as
        batch count grows. Compaction restores the bulk-load layout.
        Reads are materialized via localCheckpoint before the overwrite
        so the rewrite is safe against its own source files.
        """
        range_keys, sort_keys = INDEXES[name]
        tdir = self.path(f"triples_{name}")
        cur = self._read(f"triples_{name}").localCheckpoint(eager=True)
        n_rows = cur.count()
        arranged = cur.repartitionByRange(
            self._parts_for(n_rows), *range_keys
        ).sortWithinPartitions(*sort_keys).persist()
        arranged.write.mode("overwrite").parquet(tdir)
        parts = lineage.partition_manifest(arranged)
        arranged.unpersist()
        return lineage.write_manifest(
            tdir, f"compact_{name}", input_sig, parts,
            extra={"sort_order": sort_keys},
        )

    def compact_all(self, input_sig: str = "compact") -> dict:
        return {name: self.compact(name, input_sig)["total_rows"]
                for name in INDEXES}

    # -- read -----------------------------------------------------------
    def _read(self, table: str) -> DataFrame:
        """The one store read: ``table`` opened against its declared
        schema, so building the handle starts no Spark job."""
        return self.spark.read.schema(SCHEMAS[table]).parquet(self.path(table))

    def index(self, name: str) -> DataFrame:
        return self._read(f"triples_{name}")

    def term2id(self) -> DataFrame:
        return self._read("term2id")

    def id2term(self) -> DataFrame:
        return self._read("id2term")

    def provenance(self) -> DataFrame:
        return self._read("provenance")
