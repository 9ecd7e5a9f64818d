"""The memo contract every persisted operator intermediate goes
through (ai_ocr_spark/cache.py), plus a guard that keeps memo sites
from being hand-rolled outside it."""

import pathlib
import re

from ai_ocr_spark import cache
from ai_ocr_spark.cache import _SHINGLE_CACHE, _cache_key, clear_caches, memo

PKG = pathlib.Path(cache.__file__).parent


def _counting_build(spark, calls, n=3):
    def build():
        calls.append(n)
        return spark.range(n)

    return build


def _is_loaded(spark, df) -> bool:
    """True once the frame's cache blocks have been computed — memo's
    eager count, not a later action, must have done it."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        df._jdf
    )
    builder = cached.get().cachedRepresentation().cacheBuilder()
    return builder.isCachedColumnBuffersLoaded()


def test_build_runs_once_per_sf_dir_and_kind(spark):
    calls = []
    first = memo(spark, "memo-test/a", "k", _counting_build(spark, calls))
    again = memo(spark, "memo-test/a", "k", _counting_build(spark, calls))
    assert again is first
    assert calls == [3]
    # same kind under another sf_dir is another entry
    other = memo(spark, "memo-test/b", "k", _counting_build(spark, calls))
    assert other is not first
    assert calls == [3, 3]


def test_distinct_kinds_get_distinct_entries(spark):
    calls = []
    a = memo(spark, "memo-test/c", "k1", _counting_build(spark, calls, 2))
    b = memo(spark, "memo-test/c", "k2", _counting_build(spark, calls, 4))
    assert a is not b
    assert (a.count(), b.count()) == (2, 4)
    assert _SHINGLE_CACHE[_cache_key(spark, "memo-test/c", "k1")] is a
    assert _SHINGLE_CACHE[_cache_key(spark, "memo-test/c", "k2")] is b


def test_every_returned_frame_is_persisted_and_materialized(spark):
    single = memo(spark, "memo-test/d", "one", lambda: spark.range(5))
    pair = memo(
        spark,
        "memo-test/d",
        "pair",
        lambda: (spark.range(6), spark.range(7).selectExpr("id * 2 AS v")),
    )
    assert isinstance(pair, tuple) and len(pair) == 2
    for df in (single, *pair):
        assert df.storageLevel.useMemory
        assert _is_loaded(spark, df)


def test_clear_caches_unpersists_and_evicts(spark):
    frames = memo(
        spark,
        "memo-test/e",
        "pair",
        lambda: (spark.range(3), spark.range(4)),
    )
    single = memo(spark, "memo-test/e", "one", lambda: spark.range(5))
    app_id = spark.sparkContext.applicationId
    expected = sum(1 for k in _SHINGLE_CACHE if k[0] == app_id)
    assert expected >= 2
    assert clear_caches(spark) == expected
    assert not [k for k in _SHINGLE_CACHE if k[0] == app_id]
    for df in (*frames, single):
        assert not df.storageLevel.useMemory
    assert clear_caches(spark) == 0
    # evicted means rebuilt on the next call
    calls = []
    memo(spark, "memo-test/e", "one", _counting_build(spark, calls))
    assert calls == [3]


def test_no_module_hand_rolls_a_memo_site():
    """Only cache.py may name the cache dict or its key function; every
    other module memoizes through cache.memo."""
    pattern = re.compile(r"\b(_SHINGLE_CACHE|_cache_key)\b")
    offenders = [
        f"{path.relative_to(PKG.parent)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "cache.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, offenders
