"""User-facing facade: everything a reference user needs, one object.

The reference's entry points were a bulk loader CLI, an incremental
loader class, triple-pattern retrieval managers, and two SPARQL engines.
``KgEngine`` packages their Spark-native equivalents:

    eng = KgEngine(spark, "/path/to/store")
    eng.build(transcripts_df, gazetteer_df)          # bulk load (transcripts)
    eng.load_ntriples("/data/dump.nq")               # bulk load (RDF text)
    eng.append(new_transcripts_df, gazetteer_df)     # incremental (S7)
    eng.scan(TriplePattern(s="ent:person/alice_johnson"))   # Q1/Q2
    eng.bgp([Bgp("?x", "rel:works_at", "?y")])       # J2 joins
    eng.sql("SELECT ?x WHERE { ?x <rel:works_at> ?y }")  # SPARQL subset
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hbase_rdf_spark.functions.encoding import build_dictionaries, encode_quads
from hbase_rdf_spark.operators.materialize import TripleStore
from hbase_rdf_spark.pipeline import build_kg
from hbase_rdf_spark.plans import sparql as _sparql
from hbase_rdf_spark.plans.bgp import Bgp, execute_bgp, materialize
from hbase_rdf_spark.plans.patterns import TriplePattern, scan
from hbase_rdf_spark.sources.ntriples import parse_lines, quads as nt_quads
from hbase_rdf_spark.streaming.incremental import append_batch, stream_transcripts


class KgEngine:
    def __init__(self, spark: SparkSession, root: str, num_partitions: int | None = None):
        self.spark = spark
        self.store = TripleStore(spark, root, num_partitions)

    # -- construction ----------------------------------------------------
    def build(self, transcripts: DataFrame, gazetteer: DataFrame, **kw) -> dict:
        return build_kg(self.spark, transcripts, gazetteer, self.store.root, **kw)

    def load_ntriples(self, path: str, input_sig: str = "") -> dict:
        """Bulk-load N-Triples/N-Quads text — the reference's native path."""
        parsed = parse_lines(self.spark.read.text(path))
        resolved = nt_quads(parsed).localCheckpoint(eager=True)
        term2id, id2term = build_dictionaries(resolved)
        term2id = term2id.localCheckpoint(eager=True)
        self.store.write_dictionaries(term2id, id2term, input_sig)
        stats = self.store.write_indexes(encode_quads(resolved), input_sig)
        return {"index_rows": stats}

    def append(self, transcripts: DataFrame, gazetteer: DataFrame) -> dict:
        """Append one transcript slice (idempotent). ``gazetteer`` is
        indexed once per DataFrame object and the index stays cached
        while the object lives, so appends that reuse the object of an
        earlier build or append skip re-reading it; pass a new DataFrame
        when the alias source changes."""
        return append_batch(self.store, transcripts, gazetteer)

    def stream(self, stream_df: DataFrame, gazetteer: DataFrame,
               checkpoint_dir: str, **kw):
        return stream_transcripts(self.store, stream_df, gazetteer,
                                  checkpoint_dir, **kw)

    # -- retrieval ---------------------------------------------------------
    def cache(self) -> "KgEngine":
        """Pin the three indexes + dictionary in executor memory.

        The Spark-native replacement for the reference's per-pattern LRU
        result cache and block-cache prewarm (reference:
        graph/HBaseGraph.java:33-58, schema/HBPrefixMatchSchema.java:162-182):
        one cached copy serves EVERY pattern instead of memoizing
        per-scan results. Lazy — materializes on first use.
        """
        self._cached = [
            self.store.index(n).persist() for n in ("spo", "pos", "osp")
        ] + [self.store.id2term().persist()]
        return self

    def uncache(self) -> None:
        for df in getattr(self, "_cached", []):
            df.unpersist()
        self._cached = []

    def scan(self, pattern: TriplePattern) -> DataFrame:
        return scan(self.store, pattern)

    def bgp(self, patterns: list[Bgp], project: list[str] | None = None) -> DataFrame:
        result = execute_bgp(self.store, patterns)
        return materialize(result, self.store, project)

    def sql(self, query, with_kinds: bool = False) -> DataFrame:
        """SPARQL subset (SELECT/GRAPH/FILTER/OPTIONAL/UNION/ORDER/LIMIT).

        ``query`` is SPARQL text or a pre-parsed ``Query``;
        ``with_kinds`` adds hidden ``__k_{var}`` term-kind sidecars for
        the results-JSON layer (see ``service.results_json``).
        """
        return _sparql.execute(self.store, query, with_kinds=with_kinds)

    def update(self, text: str) -> dict:
        """SPARQL 1.1 Update request (INSERT/DELETE DATA, DELETE WHERE,
        DELETE/INSERT WHERE, CLEAR) → {"inserted": n, "deleted": n}."""
        from hbase_rdf_spark.plans.update import execute_update

        return execute_update(self.store, text)
