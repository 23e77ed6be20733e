"""Per-stage, per-partition lineage manifests — checkpoint/resume.

Upgrade of the reference's output-dir-exists resume
(reference: bulkload/AbstractPrefixMatchBulkLoad.java:119-137 — each MR
pass is skipped if its output directory exists) and its counter file
(:350-381): every stage records a JSON manifest with

- an ``input_sig`` fingerprint of its input (so stale outputs are
  recomputed, which the reference's exists-check could not detect),
- per-partition ``(partition_id, row_count, content_hash)`` where the
  content hash is an order-insensitive sum of row hashes (cheap, one
  aggregation, no sort), and
- total row count.

A resumed run with the same input reproduces identical manifests —
asserted in tests (FIXTURES.md §7).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, functions as F

MANIFEST_NAME = "_lineage.json"


def partition_manifest(df: DataFrame) -> list[dict[str, int]]:
    """Compute per-partition (rows, content hash) in one narrow agg."""
    return partition_manifests([df])[0]


def partition_manifests(dfs: list[DataFrame]) -> list[list[dict[str, int]]]:
    """:func:`partition_manifest` of every frame in ``dfs``, in ONE
    Spark job. Each frame's partition id and row hash are taken below
    the union, so the ids are the frame's own, not the union's; a
    literal tag keeps the frames apart in the shared aggregation."""
    tagged = [
        df.select(
            F.lit(i).alias("t"),
            F.spark_partition_id().alias("pid"),
            F.xxhash64(*df.columns).alias("h"),
        )
        for i, df in enumerate(dfs)
    ]
    union = tagged[0]
    for t in tagged[1:]:
        union = union.union(t)
    rows = (
        union.groupBy("t", "pid")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.expr("bit_xor(h)").alias("content_hash"),
        )
        .collect()
    )
    # a few rows per partition: ordered here, not by a Spark sort (whose
    # range sampling would be a job of its own)
    out: list[list[dict[str, int]]] = [[] for _ in dfs]
    for r in sorted(rows, key=lambda r: (r["t"], r["pid"])):
        out[r["t"]].append(
            {"partition_id": r["pid"], "rows": r["rows"],
             "content_hash": r["content_hash"]}
        )
    return out


def table_signature(df: DataFrame) -> dict[str, int]:
    """Order-insensitive whole-table signature (count + hash-sum)."""
    r = df.select(F.xxhash64(*df.columns).alias("h")).select(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("content_hash"),
    ).collect()[0]
    return {"rows": r["rows"], "content_hash": r["content_hash"]}


def manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, MANIFEST_NAME)


def write_manifest(
    table_dir: str,
    stage: str,
    input_sig: str,
    partitions: list[dict[str, int]],
    extra: dict[str, Any] | None = None,
) -> dict[str, Any]:
    manifest = {
        "stage": stage,
        "input_sig": input_sig,
        "total_rows": sum(p["rows"] for p in partitions),
        "partitions": partitions,
    }
    if extra:
        manifest.update(extra)
    os.makedirs(table_dir, exist_ok=True)
    with open(manifest_path(table_dir), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def read_manifest(table_dir: str) -> dict[str, Any] | None:
    p = manifest_path(table_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def stage_complete(table_dir: str, input_sig: str) -> bool:
    """True iff the stage previously finished *on the same input*."""
    m = read_manifest(table_dir)
    return m is not None and m.get("input_sig") == input_sig
