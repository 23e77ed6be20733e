"""Incremental / streaming append — the HBaseLoader analog.

The reference ships a synchronous incremental loader that, per
statement, inserts missing dictionary entries and puts 3 index rows,
guarded by a global counter watermark
(reference: loader/HBaseLoader.java:82-231). The Spark-native rebuild:

- **batch append** (:func:`append_batch`): run the normal pipeline
  stages on the new transcript slice, then anti-join against the
  existing store so only NEW dictionary terms and NEW quads append.
  Hash ids make this idempotent — re-appending the same slice is a
  no-op (the reference needed its Counters watermark exactly because
  its ids were arrival-ordered; reference: schema/HBPrefixMatchSchema.java:60-68).
- **structured streaming** (:func:`stream_transcripts`): wires a
  transcript stream through ``foreachBatch(append_batch)`` — each
  micro-batch is one atomic append with per-batch lineage.

On a real cluster the appends are Iceberg snapshot commits; in the
parquet layout each append adds sorted files to the index directories
(per-file sort + min/max stats still hold; global clustering degrades
until a compaction pass — same trade-off Iceberg manages natively).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from hbase_rdf_spark.functions.encoding import (
    build_dictionaries,
    encode_quads,
)
from hbase_rdf_spark.operators.extraction import extract_triples, mentions, stable_conversations
from hbase_rdf_spark.operators.materialize import INDEXES, QUAD_COLS, TripleStore
from hbase_rdf_spark.pipeline import build_links, resolve_surfaces


def append_resolved(store: TripleStore, resolved: DataFrame) -> dict:
    """Append a resolved-triple slice (conv_id, turn_idx, subj, pred,
    obj, obj_kind) to an existing store. Idempotent: anti-joins against
    the current dictionary and SPO index so only NEW terms and NEW
    quads hit disk — also the write primitive of SPARQL Update inserts
    (plans/update.py).

    Each delta is checkpointed once, before any append touches the
    files it was computed against, and counted from its checkpoint. The
    dictionary and index appends all read those checkpoints, not the
    (re-parsed) input, and all five run concurrently."""
    _, id2term = build_dictionaries(resolved)
    new_id2term = id2term.join(
        store.id2term().select("id"), "id", "left_anti"
    ).localCheckpoint(eager=True)

    quads = encode_quads(resolved).select(*QUAD_COLS)
    existing = store.index("spo").select(*QUAD_COLS)
    # o / o_num are nullable (numeric vs dictionary objects) — the
    # dedupe join must be null-safe or nothing ever matches
    cond = [quads[c].eqNullSafe(existing[c]) for c in QUAD_COLS]
    new_quads = quads.join(existing, cond, "left_anti").localCheckpoint(
        eager=True
    )

    n_new = new_quads.count()
    n_terms = new_id2term.count()
    writes = []
    if n_terms:
        writes += [("term2id", new_id2term.withColumnRenamed("label", "term")),
                   ("id2term", new_id2term)]
    if n_new:
        writes += _index_rows(new_quads)
    _append_all(store, writes)
    return {"appended_quads": n_new, "appended_terms": n_terms}


def _index_rows(new_quads: DataFrame) -> list[tuple[str, DataFrame]]:
    """(index table, rows) appends of an id-space quad delta."""
    return [(f"triples_{name}", new_quads.sortWithinPartitions(*sort_keys))
            for name, (_, sort_keys) in INDEXES.items()]


def _append_all(store: TripleStore, writes: list[tuple[str, DataFrame]]) -> None:
    """Run ``store.append_rows`` for every (table, rows), concurrently:
    the rows share checkpointed upstreams, so overlapping the appends
    hides each one's fixed job latency (same overlap as
    TripleStore.write_indexes)."""
    if writes:
        with ThreadPoolExecutor(max_workers=len(writes)) as ex:
            list(ex.map(lambda w: store.append_rows(*w), writes))


def append_quads(store: TripleStore, new_quads: DataFrame) -> None:
    """Append an id-space quad delta (already deduped against the
    store and checkpointed) to all three index tables, concurrently.
    Also the write primitive of SPARQL Update ADD (plans/update.py)."""
    _append_all(store, _index_rows(new_quads))


def append_batch(
    store: TripleStore,
    transcripts: DataFrame,
    gazetteer: DataFrame,
) -> dict:
    """Append one transcript slice to an existing store. Idempotent."""
    ordered = stable_conversations(transcripts)
    extracted = extract_triples(ordered).persist()
    try:
        links, _ = build_links(mentions(extracted), gazetteer)
        resolved = resolve_surfaces(extracted, links).localCheckpoint(eager=True)
        return append_resolved(store, resolved)
    finally:
        extracted.unpersist()


def stream_transcripts(
    store: TripleStore,
    stream: DataFrame,
    gazetteer: DataFrame,
    checkpoint_dir: str,
    trigger_seconds: int = 30,
):
    """Continuous construction from a transcript stream.

    ``stream`` is a streaming DataFrame with the transcript schema
    (e.g. Kafka → from_json, or file source). Returns the started
    StreamingQuery; stop() it to shut down.
    """

    def _each(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_batch(store, batch_df, gazetteer)

    return (
        stream.writeStream.foreachBatch(_each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
