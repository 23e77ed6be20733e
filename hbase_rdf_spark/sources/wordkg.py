"""SQL-checkable KG operators over generic document/event tables.

The transcript pipeline's correctness gate is the pure-Python oracle
(pytest, P/R >= 0.95). This module exposes the SAME operator semantics —
extraction, dictionary encoding, pattern scans, BGP joins, numeric-range
quads — over the driver's generic parquet tables (`documents`, `events`)
in a form an ANSI-SQL oracle (DuckDB) can replay exactly:

- extraction = token-trigram (s, p, o) emission where p comes from a
  closed predicate vocabulary (the word-level analog of the relation
  phrase grammar; reference parse role: bulkload/QuadBreakDown.java:137-149);
- ids = first 16 hex chars of md5 (portable across engines; the
  *internal* engine uses xxhash64 — tested in pytest — but md5 is the
  only hash both Spark and DuckDB compute identically);
- events become numeric-object quads (s=user, p=event_type, o_num=value,
  c=day), the TypedId-analog path (reference: id/TypedId.java:98-268).

Everything is built-in-function JVM code — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# Closed predicate vocabulary (tokens known to occur in the synthetic
# document corpus).
PRED_VOCAB = ["join", "merge", "scan", "filter", "sort", "group"]


def read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def md5_id(col) -> F.Column:
    """Portable 64-bit-equivalent term id: md5 hex prefix (16 chars)."""
    return F.substring(F.md5(col), 1, 16)


def doc_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → word-trigram triples (doc_id, s, p, o).

    A trigram (t[i], t[i+1], t[i+2]) is a triple iff the middle token is
    in PRED_VOCAB. Pure JVM: split + transform/sequence + explode +
    filter; the filter is applied before the explode output shuffles
    anywhere (narrow).
    """
    docs = read(spark, sf_dir, "documents")
    # bind the token array to an attribute FIRST: referencing the split()
    # expression inside the lambda would re-evaluate it per element
    # (no CSE inside higher-order functions → O(n²) per document)
    toks = F.col("_t")
    trip = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: F.struct(
            F.element_at(toks, i).alias("s"),
            F.element_at(toks, i + 1).alias("p"),
            F.element_at(toks, i + 2).alias("o"),
        ),
    )
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("_t"))
        .select("doc_id", F.explode(trip).alias("t"))
        .select("doc_id", "t.s", "t.p", "t.o")
        .filter(F.col("p").isin(PRED_VOCAB))
    )


def event_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → numeric-object quads (s, p, o_num, c).

    s = user entity, p = event_type, o_num = value (numeric literal,
    inlined — never dictionary-encoded), c = event day (context).
    """
    ev = read(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("p"),
        F.col("value").alias("o_num"),
        F.date_format("ts", "yyyy-MM-dd").alias("c"),
    )


EVENT_QUADS_SQL = """
SELECT 'user:' || CAST(user_id AS VARCHAR) AS s,
       event_type AS p,
       value AS o_num,
       strftime(ts, '%Y-%m-%d') AS c
FROM events
"""
