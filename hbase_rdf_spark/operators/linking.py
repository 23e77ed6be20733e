"""Stage 3 — LINK: mention surface → canonical entity id.

Generalizes the reference's exact-string dictionary matching
(reference: bulkload/QuadBreakDown.java:200-217 — one id per distinct
term) to fuzzy entity resolution:

1. **Per-row sketches** (:func:`_sketch`): each surface is normalized
   (case, punctuation, whitespace), cut into char-2-gram shingles, and
   summarized in its own row — the distinct shingle-hash set, all k=16
   minhashes in one ``aggregate`` fold over that set, and b=8 band
   hashes of r=2 minhashes each. No explode + group-by-surface.
2. **Gazetteer index** (:func:`gazetteer_index`): the band rows of every
   distinct normalized alias, carrying its shingle set and its entity
   (the min entity id of the aliases that normalize to it); band 0's
   rows double as the exact-match map. Built from one read of the
   gazetteer and persisted, once per gazetteer DataFrame *object*: the
   entry lives while that object lives and is unpersisted when it is
   garbage-collected. A gazetteer DataFrame is treated as immutable —
   a caller whose alias source changes passes a new DataFrame, which
   gets a new index, never stale rows.
3. **Two broadcast joins, one aggregation** (:func:`link_mentions`):
   normalized surface → exact-match map (the analog of the String2Id
   point-Get, reference:
   operations/HBPrefixMatchOperationManager.java:474-489); only the
   residue is sketched, and its band rows left-join the index; one
   group-by-surface keeps the exact match or else the best candidate
   scoring ≥ the threshold (score desc, entity id asc). Nothing is
   persisted per call.

The score is shingle Jaccard or normalized Levenshtein similarity,
whichever is higher — Jaccard discriminates long surfaces, edit
distance rescues short ones where a single typo destroys most
shingles. Everything is SQL expressions over JVM built-ins (no Python
UDFs, few Py4J calls per call), and every SQL lambda reads only its
own parameters.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, functions as F

SHINGLE_N = 2  # 2-grams keep short-surface typos reachable by banding
NUM_HASHES = 16
BANDS = 8  # 8 bands × 2 rows: candidate recall ≥ 0.97 at J ≥ 0.6
ROWS_PER_BAND = NUM_HASHES // BANDS
DEFAULT_THRESHOLD = 0.5

# Deterministic multipliers / offsets for the k affine hash families.
# The shingle hash is first reduced to a 31-bit domain so a*x+b stays
# well inside int64 under Spark's ANSI overflow checking
# (2^31 * 2^31 + 2^31 < 2^63).
_DOMAIN = (1 << 31) - 1  # Mersenne prime 2^31-1
_HASH_A = [(0x9E3779B9 * (2 * i + 1)) % _DOMAIN or 1 for i in range(NUM_HASHES)]
_HASH_B = [(0xBF58476D ^ (i * 0x94D049BB)) % _DOMAIN for i in range(NUM_HASHES)]

# case/whitespace/punctuation normalization, applied to both sides
_NORM = r"regexp_replace(regexp_replace(lower(trim({})), '[^\\w\\s]', ''), '\\s+', ' ')"
# distinct shingle hashes; strings shorter than one shingle are padded
# (rpad would TRUNCATE longer ones). The lookahead yields every
# overlapping n-gram; normalized text has no line terminators.
_SHINGLES = (
    "array_distinct(transform(regexp_extract_all("
    f"if(length(_norm) >= {SHINGLE_N}, _norm, rpad(_norm, {SHINGLE_N}, '_')), "
    f"'(?=({'.' * SHINGLE_N}))', 1), g -> xxhash64(g)))"
)
# minhash k = min over the set of (a_k * (h mod D) + b_k) mod D, all k
# in one fold
_MINHASHES = (
    f"aggregate(transform(shs, h -> pmod(h, {_DOMAIN})), "
    f"array_repeat(CAST({_DOMAIN} AS BIGINT), {NUM_HASHES}), "
    f"(acc, x) -> transform(acc, (m, k) -> least(m, pmod("
    f"x * array({', '.join(map(str, _HASH_A))})[k] "
    f"+ array({', '.join(map(str, _HASH_B))})[k], {_DOMAIN}))))"
)
_BANDS = "CASE WHEN _mh IS NOT NULL THEN array({}) END".format(", ".join(
    "xxhash64({}, {})".format(
        ", ".join(f"_mh[{band * ROWS_PER_BAND + r}]" for r in range(ROWS_PER_BAND)), band
    )
    for band in range(BANDS)
))


def _sketch(df: DataFrame, norm: str, *keep: str) -> DataFrame:
    """Per row of ``df``: the ``keep`` columns, then ``_norm`` (the SQL
    expression ``norm``, a normalized surface), ``shs`` (its distinct
    shingle hashes) and ``bands`` (one hash per LSH band); all null
    where ``_norm`` is."""
    return (
        df.selectExpr(*keep, f"{norm} AS _norm")
        .selectExpr(*keep, "_norm", f"{_SHINGLES} AS shs")
        .selectExpr(*keep, "_norm", "shs", f"{_MINHASHES} AS _mh")
        .selectExpr(*keep, "_norm", "shs", f"{_BANDS} AS bands")
    )


def _band_rows(df: DataFrame, norm: str, prefix: str, *keep: str) -> DataFrame:
    """(band, band_hash) rows of each row's sketch, with its ``keep``
    columns and its sketch as ``{prefix}_norm`` and ``{prefix}_shs``; a
    row without a sketch keeps one row, its band null."""
    return _sketch(df, norm, *keep).selectExpr(
        *keep, f"_norm AS {prefix}_norm", f"shs AS {prefix}_shs",
        "posexplode_outer(bands) AS (band, band_hash)",
    )


def _score(a: str, b: str) -> str:
    """Hybrid verification score of the sketches prefixed ``a`` and ``b``."""
    inter = f"size(array_intersect({a}_shs, {b}_shs))"
    return (
        f"greatest({inter} / (size({a}_shs) + size({b}_shs) - {inter}), "
        f"1D - levenshtein({a}_norm, {b}_norm) "
        f"/ nullif(greatest(length({a}_norm), length({b}_norm)), 0))"
    )


_INDEXES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_INDEXES_LOCK = threading.Lock()


def gazetteer_index(gazetteer: DataFrame) -> DataFrame:
    """(g_entity, g_norm, g_shs, band, band_hash): the band rows of every
    distinct normalized alias ``g_norm``, ``g_entity`` the min entity id
    of its aliases. Band 0's rows are the exact-match map.

    Persisted on first use and kept, per DataFrame object, until
    ``gazetteer`` is garbage-collected."""
    with _INDEXES_LOCK:
        idx = _INDEXES.get(gazetteer)
        if idx is None:
            # aliases with one normalized text share their sketch, so
            # each one's best match is the group's min entity id
            aliases = (
                gazetteer.selectExpr(f"{_NORM.format('alias')} AS g_norm", "entity_id")
                .groupBy("g_norm").agg(F.expr("min(entity_id) AS g_entity"))
            )
            idx = _band_rows(aliases, "g_norm", "g", "g_entity").persist()
            _INDEXES[gazetteer] = idx
            weakref.finalize(gazetteer, idx.unpersist).atexit = False
        return idx


def _threshold(threshold: float) -> str:
    """``threshold`` as a SQL double."""
    return f"CAST({float(threshold)!r} AS DOUBLE)"


def link_mentions(
    mentions: DataFrame,
    gazetteer: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Resolve distinct mention surfaces against a gazetteer.

    Parameters
    ----------
    mentions : DataFrame(surface: string) — distinct mention surfaces.
    gazetteer : DataFrame(alias: string, entity_id: string) — small
        (broadcastable) alias dictionary, indexed once per object
        (:func:`gazetteer_index`).

    Returns
    -------
    DataFrame(surface, entity_id, method, score) where ``entity_id`` is
    null for surfaces no strategy could resolve (handled by stage 4
    canonicalization) and method ∈ {exact, lsh, none}.
    """
    idx = gazetteer_index(gazetteer)
    exact = idx.where("band = 0").selectExpr("g_norm AS _norm", "g_entity AS _exact_id")
    m = mentions.selectExpr("surface", f"{_NORM.format('surface')} AS _norm").join(
        F.broadcast(exact), "_norm", "left"
    )
    # only the residue is sketched, banded and scored
    return (
        _band_rows(m, "if(_exact_id IS NULL, _norm, NULL)", "m", "surface", "_exact_id")
        .join(F.broadcast(idx), ["band", "band_hash"], "left")
        .selectExpr("surface", "_exact_id", "g_entity", f"{_score('m', 'g')} AS _score")
        .groupBy("surface")
        .agg(F.expr("min(_exact_id) AS _exact_id"),
             F.expr(f"min(if(_score >= {_threshold(threshold)}, "
                    "named_struct('neg', -_score, 'id', g_entity), NULL)) AS _best"))
        .selectExpr(
            "surface",
            "coalesce(_exact_id, _best.id) AS entity_id",
            "CASE WHEN _exact_id IS NOT NULL THEN 'exact' "
            "WHEN _best IS NOT NULL THEN 'lsh' ELSE 'none' END AS method",
            "CASE WHEN _exact_id IS NOT NULL THEN 1D "
            "ELSE coalesce(-_best.neg, 0D) END AS score",
        )
    )


def self_candidate_pairs(
    surfaces: DataFrame, threshold: float = DEFAULT_THRESHOLD
) -> DataFrame:
    """LSH candidate pairs *within* one surface set, scored like
    :func:`link_mentions` candidates.

    Feeds stage-4 canonicalization: surfaces no gazetteer entry could
    resolve are clustered among themselves (connected components over
    these edges). Returns (a, b, score) with a < b.
    """
    rows = _band_rows(surfaces, _NORM.format("surface"), "s", "surface")
    a = rows.selectExpr("band", "band_hash", "surface AS a", "s_norm AS a_norm", "s_shs AS a_shs")
    b = rows.selectExpr("band", "band_hash", "surface AS b", "s_norm AS b_norm", "s_shs AS b_shs")
    return (
        a.join(b, ["band", "band_hash"])
        .where("a < b")
        .dropDuplicates(["a", "b"])
        .selectExpr("a", "b", f"{_score('a', 'b')} AS score")
        .where(f"score >= {_threshold(threshold)}")
    )
