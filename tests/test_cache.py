"""Query-result cache: TTL/LRU semantics, unpersist on eviction, stats
surface, facade integration."""

from __future__ import annotations

import pytest

from sortify_spark.cache import QueryResultCache


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_hit_miss_ttl_and_stats(spark):
    clock = FakeClock()
    cache = QueryResultCache(maxsize=4, ttl_seconds=10, clock=clock)
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5)

    k = QueryResultCache.cache_key("q1", prefix="t:")
    assert cache.get_or_compute(k, compute).count() == 5
    assert cache.get_or_compute(k, compute).count() == 5
    assert len(calls) == 1  # second call was a hit
    s = cache.stats()
    assert (s.hit_count, s.miss_count) == (1, 1)
    assert s.hit_rate == 0.5

    clock.t = 11.0  # past TTL → recompute, expired counted
    cache.get_or_compute(k, compute)
    assert len(calls) == 2
    assert cache.stats().expired_count == 1

    row = cache.stats_df(spark).first()
    assert row["entries"] == 1
    assert row["hit_count"] == 1 and row["miss_count"] == 2


def test_lru_eviction_unpersists(spark):
    cache = QueryResultCache(maxsize=2, ttl_seconds=100, clock=FakeClock())
    dfs = {}
    for i in range(3):
        dfs[i] = cache.get_or_compute(f"k{i}", lambda i=i: spark.range(i + 1))
    # k0 (oldest) evicted and unpersisted; k1/k2 still cached
    assert not dfs[0].is_cached
    assert dfs[1].is_cached and dfs[2].is_cached
    assert cache.stats().eviction_count == 1
    # LRU refresh: touching k1 then inserting k3 evicts k2, not k1
    cache.get_or_compute("k1", lambda: spark.range(99))
    cache.get_or_compute("k3", lambda: spark.range(4))
    assert dfs[1].is_cached and not dfs[2].is_cached


def test_invalidate_clear_cleanup(spark):
    clock = FakeClock()
    cache = QueryResultCache(maxsize=8, ttl_seconds=10, clock=clock)
    a = cache.get_or_compute("a", lambda: spark.range(1))
    cache.get_or_compute("b", lambda: spark.range(2))
    assert cache.invalidate("a") and not cache.invalidate("a")
    assert not a.is_cached
    clock.t = 11.0
    assert cache.cleanup_expired() == 1  # b expired
    cache.get_or_compute("c", lambda: spark.range(3))
    assert cache.clear() == 1


@pytest.mark.slow
def test_facade_cached_search(spark):
    from sortify_spark.facade import SortifyEngine
    from tests.conftest import SF_DIR

    eng = SortifyEngine(spark, SF_DIR, dim=16)
    a = eng.cached_search("data query join", search_type="traditional")
    b = eng.cached_search("data query join", search_type="traditional")
    assert a is b  # same persisted DataFrame, no re-plan
    assert eng.result_cache.stats().hit_count == 1
    # different strategy or query → different entry
    eng.cached_search("data query join", search_type="rrf_fusion")
    eng.cached_search("other text", search_type="traditional")
    assert eng.result_cache.stats().miss_count == 3
    assert a.collect() == b.collect()


def test_cached_search_forgets_deleted_document(spark, tmp_path):
    """Writes invalidate the result cache: after delete_vectors, a
    repeat cached_search must not serve the deleted document from the
    entry cached before the delete (its TTL has not expired)."""
    from sortify_spark.facade import SortifyEngine
    from tests.conftest import SF_DIR

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=60,
        index_root=str(tmp_path),
    )
    text = eng.documents.orderBy("doc_id").first()["text"]
    before = eng.cached_search(text, search_type="summary_only").collect()
    victim = before[0]["id"]
    eng.delete_vectors([victim])
    after = eng.cached_search(text, search_type="summary_only").collect()
    assert after
    assert victim not in {r["id"] for r in after}
