"""Stage 3 (LINK) and the CC canonicalization of its residue (stage 4).

The golden rows in ``data/linking_golden.json`` were written by the
previous linker (explode + group-by-surface sketches, per-call
gazetteer reads), scores included; the per-row sketch linker must
reproduce them exactly. The second golden uses a gazetteer that lacks
some entities, so that surfaces stay unresolved and reach the
connected-components branch (``cc``) and its singletons (``unk``).
"""

import gc
import json
import sys
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from hbase_rdf_spark.engine import KgEngine
from hbase_rdf_spark.operators.extraction import (
    extract_triples,
    mentions,
    stable_conversations,
)
from hbase_rdf_spark.operators.linking import (
    gazetteer_index,
    link_mentions,
    self_candidate_pairs,
)
from hbase_rdf_spark.pipeline import build_links
from hbase_rdf_spark.sources.synthetic import build_gazetteer, transcripts_df

GOLDEN = json.loads((Path(__file__).parent / "data" / "linking_golden.json").read_text())
SCHEMA = "alias string, entity_id string, kind string"


def _gazetteer(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).select("alias", "entity_id")


def _partial_rows():
    """The gazetteer without tools, cities and every third alias."""
    return [r for i, r in enumerate(build_gazetteer())
            if r[2] not in ("tool", "city") and i % 3]


@pytest.fixture(scope="module")
def mention_df(spark):
    transcripts = transcripts_df(spark, 12, seed=42)
    return mentions(extract_triples(stable_conversations(transcripts)))


def test_link_mentions_matches_golden(spark, mention_df):
    gaz = _gazetteer(spark, build_gazetteer())
    got = sorted(list(r) for r in link_mentions(mention_df, gaz).collect())
    assert got == GOLDEN["link_mentions"]


def test_build_links_cc_branch_matches_golden(spark, mention_df):
    # a new DataFrame gets its own gazetteer index, never the full one's
    gaz = _gazetteer(spark, _partial_rows())
    links, counts = build_links(mention_df, gaz)
    got = sorted(list(r) for r in links.collect())
    assert got == GOLDEN["build_links_partial"]
    assert counts == Counter(r[2] for r in got)
    assert counts["cc"] > 0 and counts["unk"] > 0


def test_self_candidate_pairs_scores_within_one_set(spark):
    surfaces = spark.createDataFrame(
        [("Acme Robotics",), ("acme robotics.",), ("Acme Robtics",), ("Zeta",)],
        "surface string",
    )
    got = {(r["a"], r["b"]): r["score"]
           for r in self_candidate_pairs(surfaces).collect()}
    assert set(got) == {
        ("Acme Robotics", "Acme Robtics"),
        ("Acme Robotics", "acme robotics."),
        ("Acme Robtics", "acme robotics."),
    }
    assert got[("Acme Robotics", "acme robotics.")] == 1.0
    assert 0.5 <= got[("Acme Robotics", "Acme Robtics")] < 1.0


def _cache_entries(spark) -> set:
    """The session's cache entries (JVM ``CachedData`` objects). Entries
    that other tests' garbage releases meanwhile only leave this set, so
    the difference of two reads is what ran in between added."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    field = cache.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cache)
    return {entries.apply(i) for i in range(entries.size())}


def test_link_caches_only_the_gazetteer_index(spark, tmp_path):
    """A build and an append leave one cache entry, the gazetteer index,
    and dropping the gazetteer DataFrame releases it."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    gc.collect()
    before = _cache_entries(spark)
    gaz = _gazetteer(spark, build_gazetteer())
    eng = KgEngine(spark, str(tmp_path / "kg"))
    eng.build(transcripts_df(spark, 10, seed=21), gaz, input_sig="cache:21")
    index = cache.lookupCachedData(gazetteer_index(gaz)._jdf).get()
    assert _cache_entries(spark) - before == {index}
    eng.append(transcripts_df(spark, 4, seed=21, conv_offset=10), gaz)
    assert _cache_entries(spark) - before == {index}
    del gaz
    gc.collect()
    assert _cache_entries(spark) - before == set()


def test_concurrent_callers_share_one_gazetteer_index(spark):
    cache = spark._jsparkSession.sharedState().cacheManager()
    gc.collect()
    before = cache.numCachedEntries()
    gaz = _gazetteer(spark, build_gazetteer())
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            futures = [ex.submit(gazetteer_index, gaz) for _ in range(16)]
            indexes = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(idx is indexes[0] for idx in indexes)
    assert cache.numCachedEntries() == before + 1
    del gaz, indexes, futures
    gc.collect()
    assert cache.numCachedEntries() == before
