"""Stage 7a — triple/quad-pattern retrieval: mask → index routing + scan.

Rebuild of the reference's pattern dispatch
(reference: operations/HBPrefixMatchOperationManager.java:94-170 — the
16 bound/unbound SPOC masks map to one of six tables and a prefix
range-scan) for the tripartite columnar layout:

- routing needs only THREE tables because context is an ordinary
  filtered column, and a columnar scan with pushed-down predicates
  doesn't require the bound columns to be a strict key prefix — it only
  *benefits* when they are (file pruning). The router therefore picks
  the table whose sort prefix covers the most bound columns.
- value→id is **pure computation** (hash), not a dictionary lookup: the
  reference needed a String2Id Get per constant
  (reference: HBPrefixMatchOperationManager.java:474-489) except for
  numerics which it computed (:589-597); hash ids extend the computed
  path to every term. Encoding happens inside the Catalyst plan via
  ``xxhash64(lit(...))`` which constant-folds to a literal and reaches
  the parquet reader as a PushedFilter.
- numeric-range object scans (reference: :330-366, RowLimitPair.java)
  become ``o_num BETWEEN lo AND hi`` — native min/max pruning on the
  typed column.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from hbase_rdf_spark.functions.encoding import KIND_ENTITY, KIND_NUMERIC
from hbase_rdf_spark.operators.materialize import QUAD_COLS

Term = tuple[str, int]  # (lexical form, kind) — kind 0 entity/URI, 1 string


@dataclass(frozen=True)
class TriplePattern:
    """A bound/unbound SPOC pattern. None = unbound position.

    ``o`` is a (lexical, kind) pair for entity/string objects;
    numeric objects use ``o_num`` (exact) or ``o_range`` (lo, hi)
    inclusive, mirroring the reference's RowLimitPair semantics.
    """

    s: str | None = None
    p: str | None = None
    o: Term | None = None
    o_num: float | None = None
    o_range: tuple[float | None, float | None] | None = None
    # context/graph restriction: a single graph name, or a tuple of
    # names meaning ``c IN set`` (SPARQL dataset clauses — a FROM
    # default-graph merge or a FROM NAMED restriction); the empty
    # tuple matches nothing (empty dataset part, per SPARQL 1.1 §13.2)
    c: str | tuple[str, ...] | None = None

    @property
    def mask(self) -> str:
        """e.g. 'sp?' / '??o' / 'spo' — the reference's pattern mask."""
        o_bound = self.o is not None or self.o_num is not None or self.o_range is not None
        return (
            ("s" if self.s is not None else "?")
            + ("p" if self.p is not None else "?")
            + ("o" if o_bound else "?")
        )


# mask → index table, mirroring HBPrefixMatchOperationManager.java:148-170:
# pick the permutation whose sort prefix covers the bound columns.
ROUTE: dict[str, str] = {
    "???": "spo",
    "s??": "spo",
    "sp?": "spo",
    "spo": "spo",
    "?p?": "pos",
    "?po": "pos",
    "??o": "osp",
    "s?o": "osp",
}


def route(pattern: TriplePattern) -> str:
    return ROUTE[pattern.mask]


def encode_term(term: str, kind: int = KIND_ENTITY) -> Column:
    """Plan-time id encoding: constant-folds to a pushable literal."""
    return F.xxhash64(F.lit(kind).cast("int"), F.lit(term))


def scan(store, pattern: TriplePattern) -> DataFrame:
    """Answer one pattern with a single pruned scan of the routed index.

    Equivalent of the reference's prefix range scan (Q2/Q3); the
    predicate set below reaches parquet as PushedFilters, and because
    the routed table is range-partitioned + sorted on exactly these
    columns, file- and row-group-level min/max pruning reproduce the
    prefix-scan access pattern.
    """
    df = store.index(route(pattern))
    if pattern.s is not None:
        df = df.filter(F.col("s") == encode_term(pattern.s))
    if pattern.p is not None:
        df = df.filter(F.col("p") == encode_term(pattern.p))
    if pattern.o is not None:
        lex, kind = pattern.o
        df = df.filter(
            (F.col("o_kind") == kind) & (F.col("o") == encode_term(lex, kind))
        )
    if pattern.o_num is not None:
        df = df.filter(
            (F.col("o_kind") == KIND_NUMERIC) & (F.col("o_num") == pattern.o_num)
        )
    if pattern.o_range is not None:
        lo, hi = pattern.o_range
        df = df.filter(F.col("o_kind") == KIND_NUMERIC)
        if lo is not None:
            df = df.filter(F.col("o_num") >= lo)
        if hi is not None:
            df = df.filter(F.col("o_num") <= hi)
    if pattern.c is not None:
        if isinstance(pattern.c, tuple):
            # graph-set restriction: OR of constant-folded id equalities
            # — still a pushable parquet filter for small dataset
            # clauses; () is the empty graph (matches nothing)
            cond = F.lit(False)
            for g in pattern.c:
                cond = cond | (F.col("c") == encode_term(f"conv:{g}"))
            df = df.filter(cond)
        else:
            df = df.filter(F.col("c") == encode_term(f"conv:{pattern.c}"))
    return df.select(*QUAD_COLS)
