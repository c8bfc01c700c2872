"""Per-SparkContext pandas_udf memo, the one memo every Arrow kernel
uses (dedup window hash, simsearch dot/SRP kernels, ...): a pandas_udf
object memoizes its JVM handle on first use, so caching one across a
context restart leaves it pointing into a dead JVM (ADVICE r9). Keying the cache WEAKLY on the live SparkContext
object gives per-context reuse with automatic invalidation — a fresh
context simply misses and rebuilds.
"""

from __future__ import annotations

import weakref

_UDF_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def memo_udf(key: tuple, build):
    """Return build() memoized per (active SparkContext, key)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:  # no context: nothing to key on, don't cache
        return build()
    cache = _UDF_MEMO.setdefault(sc, {})
    if key not in cache:
        cache[key] = build()
    return cache[key]
