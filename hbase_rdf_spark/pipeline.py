"""End-to-end KG-construction pipeline: the BulkLoad analog.

Orchestrates the seven stages of SURVEY.md §7.1, playing the role of the
reference's bulk-load driver
(reference: bulkload/AbstractPrefixMatchBulkLoad.java:86-115, BulkLoad.java)
with Spark-shaped stage boundaries: where the reference runs 7+ MapReduce
jobs with SequenceFile handoffs, this is ONE Spark application whose only
wide shuffles are (1) mention dedup + linking, (2) dictionary distinct,
and (3) the per-index range-repartition at write time.

Every persisted output carries a lineage manifest keyed by an input
signature, so a killed run resumes by skipping finished stages — and,
because all ids are content hashes, the resumed run provably writes the
same bytes (asserted in tests; upgrade of the exists-check resume at
reference: AbstractPrefixMatchBulkLoad.java:119-137).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_rdf_spark.functions import lineage
from hbase_rdf_spark.functions.encoding import (
    assert_no_id_collisions,
    build_dictionaries,
    encode_quads,
)
from hbase_rdf_spark.operators.cc import canonicalize_unresolved
from hbase_rdf_spark.operators.extraction import (
    extract_triples,
    mentions,
    stable_conversations,
)
from hbase_rdf_spark.operators.linking import link_mentions, self_candidate_pairs
from hbase_rdf_spark.operators.materialize import TripleStore


def _unk_id(col):
    """Deterministic entity id for an unresolvable surface."""
    slug = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(col)), r"[^\w\s]", ""), r"\s+", "_"
    )
    return F.concat(F.lit("ent:unk/"), slug)


def resolve_surfaces(extracted: DataFrame, links: DataFrame) -> DataFrame:
    """Surface-form triples + link table → canonical-id triples.

    Two broadcast-friendly joins (the link table is distinct surfaces —
    tiny next to the triple stream). Unlinked surfaces already carry
    their canonical ``ent:unk/...`` id in ``links``.
    """
    subj_map = links.select(
        F.col("surface").alias("subj_surface"), F.col("entity_id").alias("subj")
    )
    obj_map = links.select(
        F.col("surface").alias("obj_surface"), F.col("entity_id").alias("_obj_ent")
    )
    out = (
        extracted.join(F.broadcast(subj_map), "subj_surface")
        .join(F.broadcast(obj_map), "obj_surface", "left")
        .select(
            "conv_id",
            "turn_idx",
            "subj",
            "pred",
            F.when(F.col("obj_kind") == 0, F.col("_obj_ent"))
            .otherwise(F.col("obj_surface"))
            .alias("obj"),
            "obj_kind",
        )
    )
    return out.filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())


def _method_counts(links: DataFrame) -> dict[str, int]:
    """{method: rows} of a link table."""
    return {r["method"]: r["n"]
            for r in links.groupBy("method").agg(F.count("*").alias("n")).collect()}


def build_links(mention_df: DataFrame, gazetteer: DataFrame) -> tuple[DataFrame, dict]:
    """Stages 3+4: gazetteer/LSH linking, then CC canonicalization of the
    residue.

    Returns the link table (surface, entity_id, method) with no nulls,
    checkpointed, and its row count per method."""
    # localCheckpoint: materialize once and CUT the lineage — the CC loop
    # and the multi-branch consumers below must not re-derive the whole
    # linking DAG per action. Lazy: the per-method count is the job
    # that materializes it.
    raw = link_mentions(mention_df, gazetteer).localCheckpoint(eager=False)
    counts = _method_counts(raw)
    if not counts.pop("none", 0):
        # common case: gazetteer+LSH resolved everything — skip the
        # CC machinery entirely (it would still cost ~20 Spark stages
        # on empty inputs)
        return raw.select("surface", "entity_id", "method"), counts
    resolved = raw.filter(F.col("entity_id").isNotNull()).select(
        "surface", "entity_id", "method"
    )
    unresolved = raw.filter(F.col("entity_id").isNull()).select("surface")
    pairs = (
        self_candidate_pairs(unresolved).select("a", "b").localCheckpoint(eager=True)
    )
    canon = canonicalize_unresolved(pairs)  # (surface, canon_surface)
    clustered = canon.select(
        "surface", _unk_id(F.col("canon_surface")).alias("entity_id"),
        F.lit("cc").alias("method"),
    )
    singletons = (
        unresolved.join(canon.select("surface"), "surface", "left_anti")
        .select(
            "surface", _unk_id(F.col("surface")).alias("entity_id"),
            F.lit("unk").alias("method"),
        )
    )
    links = resolved.unionByName(clustered).unionByName(singletons).localCheckpoint(
        eager=False
    )
    return links, _method_counts(links)


def check_turn_invariant(transcripts: DataFrame, reshuffled: DataFrame) -> None:
    """Per-turn text equality under stable ordering (BASELINE.json
    input_hint row invariant): the repartitioned view must be exactly the
    source, keyed by (conv_id, turn_idx)."""
    key = ["conv_id", "turn_idx", "text"]
    a = transcripts.select(*key)
    b = reshuffled.select(*key)
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    if diff:
        raise AssertionError(f"per-turn text invariant violated: {diff} rows differ")


def build_kg(
    spark: SparkSession,
    transcripts: DataFrame,
    gazetteer: DataFrame,
    root: str,
    num_partitions: int | None = None,
    verify_invariant: bool = False,
    input_sig: str | None = None,
) -> dict:
    """Run the full construction: transcripts → tripartite triple store.

    Returns a stats dict (triple/dictionary/link counts) — the analog of
    the reference's Hadoop counter report
    (reference: AbstractPrefixMatchBulkLoad.java:325-360).

    ``input_sig``: resume key. If None it is computed by hashing the
    input (one extra pass); callers that already know a stable identity
    for the input (a snapshot id, a generator seed) pass it directly.

    ``gazetteer`` is indexed on first use and the index stays cached
    while the DataFrame object lives (``operators.linking.
    gazetteer_index``): builds and appends that pass the same object
    share it. Treat it as immutable — pass a new DataFrame when the
    alias source changes. ``stats["links"]`` is the link table's row
    count per method, counted once from its checkpoint.
    """
    store = TripleStore(spark, root, num_partitions)
    if input_sig is None:
        d = lineage.table_signature(transcripts)
        input_sig = f"{d['rows']}:{d['content_hash']}"
        n_rows = d["rows"]
    else:
        n_rows = -1  # filled from extraction-side count below

    import time as _time

    timings: dict[str, float] = {}

    def _mark(name: str, t0: float) -> None:
        timings[name] = round(_time.time() - t0, 2)

    ordered = stable_conversations(transcripts, num_partitions)
    if verify_invariant:
        t0 = _time.time()
        check_turn_invariant(transcripts, ordered)
        _mark("invariant", t0)

    t0 = _time.time()
    extracted = extract_triples(ordered).persist()
    n_extracted = extracted.count()
    _mark("extract", t0)
    try:
        t0 = _time.time()
        links, link_counts = build_links(mentions(extracted), gazetteer)
        _mark("link", t0)
        t0 = _time.time()
        # resolve stays LAZY: it is two map-side broadcast joins over
        # the persisted `extracted` (build_links checkpointed links), so
        # each downstream consumer fuses them into its own scan for
        # ~free. An eager localCheckpoint here wrote the full resolved
        # triple set to executor-local disk — at N executors per host
        # that write serializes on the one shared disk and was the
        # worst-scaling stage of the 1M-conv scaling runs (1.75x at
        # 1->4 executors, BENCH/BASELINE.md r3).
        resolved = resolve_surfaces(extracted, links)
        _mark("resolve", t0)

        t0 = _time.time()
        term2id, _ = build_dictionaries(resolved)
        # one materialization serves collision check + both dictionary
        # writes + the stats count
        term2id = term2id.localCheckpoint(eager=True)
        id2term = term2id.select("id", "kind", F.col("term").alias("label"))
        assert_no_id_collisions(term2id)
        _mark("dictionaries", t0)
        t0 = _time.time()
        store.write_dictionaries(term2id, id2term, input_sig)
        _mark("dict_write", t0)

        t0 = _time.time()
        quads = encode_quads(resolved)
        idx_stats = store.write_indexes(quads, input_sig)
        _mark("index_write", t0)

        stats = {
            "input_sig": input_sig,
            "transcript_rows": n_rows,
            "extracted": n_extracted,
            "links": link_counts,
            # encode_quads keeps every resolved row and every index holds
            # every quad: the writer's row count, not a recount
            "resolved_triples": idx_stats["spo"],
            "distinct_terms": term2id.count(),
            "index_rows": idx_stats,
            "timings": timings,
        }
        lineage.write_manifest(
            store.path("_build"), "build_kg", input_sig, [], extra={"stats": stats}
        )
        return stats
    finally:
        for df in (extracted,):
            df.unpersist()
