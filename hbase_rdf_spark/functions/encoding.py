"""Stage 5 — ENCODE: dictionary encoding of terms to 64-bit ids.

Replaces the reference's two-pass MapReduce id assignment
(reference: bulkload/QuadBreakDown.java:158-269 — partitionId<<24 |
counter, id/BaseId.java:18-23) with **content-hash ids**:
``id = xxhash64(kind, term)``. Unlike the reference's arrival-order ids,
hash ids are deterministic under retries, AQE re-planning, and resume
(SURVEY.md §7.4.1) and need no global counter table (the reference's
`Counters` table, schema/HBPrefixMatchSchema.java:60-68, disappears).

Numeric literals follow the reference's TypedId design
(reference: id/TypedId.java:21-46, 98-268): they are *computed, not
dictionary-stored* — the value lives inline in a typed ``o_num`` double
column and never touches the dictionary. Parquet/Iceberg min-max stats
on the typed column replace TypedId's order-preserving binary encoding
for range scans (reference: operations/HBPrefixMatchOperationManager.java:589-597).

Kinds: 0 = entity/URI, 1 = string literal, 2 = numeric literal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

KIND_ENTITY, KIND_STRING, KIND_NUMERIC = 0, 1, 2


def term_id(kind: Column | int, term: Column) -> Column:
    """Deterministic 64-bit term id (the BaseId analog)."""
    k = F.lit(kind) if isinstance(kind, int) else kind
    return F.xxhash64(k.cast("int"), term)


def encode_quads(resolved: DataFrame) -> DataFrame:
    """Resolved triples → id-space quads + provenance.

    Input columns: conv_id, turn_idx, subj (canonical entity id string),
    pred (rel: iri), obj (entity id string or literal lexical form),
    obj_kind (0/1/2).

    Output: (s, p, o, o_kind, o_num, c, conv_id, turn_idx) — the 33-byte
    SPOC index key of the reference (schema/HBPrefixMatchSchema.java:43-44)
    becomes typed columns. Context ``c`` is the conversation (named-graph
    analog; absent contexts impossible by construction, mirroring the
    default-context rule at bulkload/QuadBreakDown.java:43).
    """
    k = F.col("obj_kind").cast("int")
    return resolved.select(
        term_id(KIND_ENTITY, F.col("subj")).alias("s"),
        term_id(KIND_ENTITY, F.col("pred")).alias("p"),
        F.when(k != KIND_NUMERIC, F.xxhash64(k, F.col("obj"))).alias("o"),
        F.col("obj_kind").cast("tinyint").alias("o_kind"),
        F.when(k == KIND_NUMERIC, F.col("obj").cast("double")).alias("o_num"),
        term_id(KIND_ENTITY, F.concat(F.lit("conv:"), F.col("conv_id"))).alias("c"),
        "conv_id",
        "turn_idx",
    )


def build_dictionaries(resolved: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Distinct non-numeric terms → (term2id, id2term) DataFrames.

    Analog of String2Id / Id2String
    (reference: bulkload/StringIdAssoc.java:22-87). Numerics excluded —
    computed inline, mirroring QuadBreakDown.java:258-269. One distinct
    (= one shuffle with map-side combine) over the term stream.
    """
    k = F.col("obj_kind").cast("int")
    # ONE scan, not four union branches: each row explodes into its
    # (term, kind) contributions — 4x fewer map tasks than unionAll at
    # any scale, identical output set
    contrib = F.array(
        F.struct(F.col("subj").alias("term"), F.lit(KIND_ENTITY).alias("kind")),
        F.struct(F.col("pred").alias("term"), F.lit(KIND_ENTITY).alias("kind")),
        F.struct(
            F.when(k != KIND_NUMERIC, F.col("obj")).alias("term"),
            k.alias("kind"),
        ),
        F.struct(
            F.concat(F.lit("conv:"), F.col("conv_id")).alias("term"),
            F.lit(KIND_ENTITY).alias("kind"),
        ),
    )
    terms = (
        resolved.select(F.explode(contrib).alias("t"))
        .select(F.col("t.term").alias("term"), F.col("t.kind").alias("kind"))
        .filter(F.col("term").isNotNull())
        .distinct()
    )
    term2id = terms.select(
        "term",
        F.col("kind").cast("tinyint").alias("kind"),
        term_id(F.col("kind"), F.col("term")).alias("id"),
    )
    id2term = term2id.select("id", "kind", F.col("term").alias("label"))
    return term2id, id2term


def assert_no_id_collisions(term2id: DataFrame) -> None:
    """One-shot collision audit (SURVEY.md §7.4.1): xxhash64 over ~1e9
    distinct terms has ~2.7e-2 birthday collision odds at 10^9 terms —
    cheap to verify, fatal to ignore."""
    n = (
        term2id.groupBy("id")
        .agg(F.countDistinct("term", "kind").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    if n:
        raise RuntimeError(f"term id collision detected for {n} ids")
