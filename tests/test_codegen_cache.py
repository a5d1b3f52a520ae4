"""Generated code stays resident across repeated key calls.

Spark compiles each distinct generated class once and keeps it in a
bounded cache (``spark.sql.codegen.cache.maxEntries``, 100 by default).
The five perfbench keys alone generate ~170 classes at sf0.001, so at the
default every repeated call evicted and recompiled most of them;
``build_session`` raises the cap so a session's working set fits.
"""

from __future__ import annotations

from powersql_spark.registry import all_specs

# perfbench's keys_sf0.001 workload: one key per operator family.
KEYS = ("tpch_q1", "tpch_q21", "window_session", "dedup_minhash_lsh", "graph_betweenness")


def _compiles(spark) -> int:
    """Classes compiled by this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_session_sets_codegen_cache_cap(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"


def test_repeated_calls_compile_nothing(spark, sf_dir):
    specs = all_specs()

    def call_all() -> int:
        before = _compiles(spark)
        for key in KEYS:
            specs[key].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return _compiles(spark) - before

    cold = call_all()
    # AQE picks a broadcast build side by which shuffle stage finishes
    # first, so an early warm call can still meet a new plan variant (a
    # handful of classes); once those are cached, calls compile nothing.
    # Below the working set, every call recompiled nearly all of them.
    warm = [call_all()]
    while warm[-1] and len(warm) < 6:
        warm.append(call_all())
    assert warm[-1] == 0, (cold, warm)
