"""The compiled-class cache holds the engine's class working set.

Spark caches the classes whole-stage codegen compiles in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries (default 100). One round
of the five perfbench curation operators compiles 170-175 distinct
classes, so with the default every repeated round evicts each class
before its next use and compiles ~160 of them again. ``get_session``
sizes the cache to ``CODEGEN_CACHE_ENTRIES``; these tests pin that a
repeated round then compiles nothing.
"""

from __future__ import annotations

from conftest import SF_SMALL

from quackspark.session import CODEGEN_CACHE_ENTRIES

#: perfbench's curation-sf0.1 callables (perfbench/workloads.py CURATION)
CURATION = (
    "dedup_duplicate_spans",
    "sim_kmeans",
    "sim_bruteforce_heap",
    "fts_bm25_topk",
    "pipeline_training_prep_v2",
)


def _compiles(spark) -> int:
    """Classes compiled so far in this JVM: one tick of the codegen
    compilation-time histogram per compile."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_carries_cache_size(spark):
    got = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert got == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == got


def test_repeated_curation_round_compiles_nothing(spark):
    from quackspark.entry import queries

    qs = queries()

    def round_() -> int:
        before = _compiles(spark)
        for name in CURATION:
            qs[name](spark, SF_SMALL).write.format("noop").mode("overwrite").save()
        return _compiles(spark) - before

    assert round_() > 0  # the counter sees compiles at all
    assert round_() == 0
