"""Stage 4 — CANON: connected components over link edges.

Canonicalization of co-referring mentions: mentions + entities are graph
nodes, link/similarity edges connect them, and each connected component
collapses to one canonical id (deterministically the minimum node id).
This is *new capability* relative to the reference, whose
"canonicalization" is exact-string dedup through the dictionary
(reference: bulkload/QuadBreakDown.java:200-217); we slot the component
representative into the same dictionary-encoding position.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) expressed as DataFrame
joins:

- no ``collect_list`` anywhere — neighborhood minima come from a
  ``groupBy(u).min(v)`` join, so a hot node (a skewed, high-degree
  entity) never materializes its neighbor list in one task;
- the per-round ``groupBy``/``join`` on node id is exactly the shuffle
  AQE's skew-join splitting handles; for adversarial skew callers can
  pre-salt by splitting hot nodes into (node, salt) satellites;
- ``localCheckpoint(eager=True)`` each round truncates the lineage so
  the plan does not grow exponentially with iterations;
- min-id tie-breaking makes the output deterministic run-to-run
  (required for the resume/P-R invariants, SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MAX_ITERATIONS = 50


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    """Normalize to u > v (drop self-loops, dedupe)."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Emit (v, m(u)) for every neighbor v > u, where m(u)=min(u, N(u))."""
    bi = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    minn = bi.groupBy("u").agg(F.min("v").alias("_mv")).select(
        "u", F.least("u", "_mv").alias("m")
    )
    return (
        bi.filter(F.col("v") > F.col("u"))
        .join(minn, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point every node at its component-local minimum among smaller ids."""
    d = _canonical_undirected(edges.select(F.col("u").alias("src"), F.col("v").alias("dst")))
    minn = d.groupBy("u").agg(F.min("v").alias("m"))
    hang = d.join(minn, "u").filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    root = minn.select(F.col("u"), F.col("m").alias("v"))
    return hang.unionAll(root).filter(F.col("u") != F.col("v")).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(F.xxhash64("u", "v").alias("h")).select(
        F.count(F.lit(1)).alias("c"),
        F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("h"),
    ).collect()[0]
    return (row["c"], row["h"])


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src: long, dst: long) → DataFrame(node: long, component: long).

    ``component`` is the minimum node id in each connected component.
    Isolated nodes (no edges) are the caller's concern — they are their
    own component by definition and never appear in ``edges``.
    """
    cur = _canonical_undirected(edges).localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(MAX_ITERATIONS):
        ls = _large_star(cur)
        ss = _small_star(ls.select(F.col("u"), F.col("v")))
        ss = ss.localCheckpoint(eager=True)
        sig = _checksum(ss)
        if sig == prev_sig:
            cur = ss
            break
        prev_sig = sig
        cur = ss
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITERATIONS} rounds"
        )
    # After convergence every edge is (node → component minimum).
    members = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return members.unionByName(roots).distinct()


def canonicalize_unresolved(unresolved_pairs: DataFrame) -> DataFrame:
    """Group unresolved mention surfaces that are mutually similar.

    ``unresolved_pairs``: DataFrame(a: string, b: string) similarity edges
    among unresolved surfaces (e.g. LSH candidate pairs above threshold).
    Returns (surface: string, canon_surface: string) where the canonical
    representative is the lexicographically-minimal member, mapped through
    deterministic xxhash64 node ids and joined back to strings.
    """
    nodes = (
        unresolved_pairs.select(F.col("a").alias("surface"))
        .unionAll(unresolved_pairs.select(F.col("b").alias("surface")))
        .distinct()
        .withColumn("node", F.xxhash64("surface"))
        .localCheckpoint(eager=True)  # consumed by two joins below
    )
    edges = (
        unresolved_pairs.withColumn("src", F.xxhash64("a"))
        .withColumn("dst", F.xxhash64("b"))
        .select("src", "dst")
    )
    comp = connected_components(edges)
    labeled = nodes.join(comp, "node", "left").withColumn(
        "component", F.coalesce("component", "node")
    )
    # representative surface = min surface string within component
    rep = labeled.groupBy("component").agg(F.min("surface").alias("canon_surface"))
    return labeled.join(rep, "component").select("surface", "canon_surface")
