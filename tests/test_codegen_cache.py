"""The session's codegen class cache holds the engine's working set.

Spark compiles each whole-stage generated class once and keeps it in a
process-wide LRU (``spark.sql.codegen.cache.maxEntries``). One pass of the
analytics mix below needs about 135 distinct classes; under Spark's
default of 100 entries the LRU evicted them before their reuse, so every
pass recompiled ~133 of them. ``get_spark`` sizes the cache, and keeps
AQE's stage numbering out of class names, so a repeated mix compiles
nothing."""

from __future__ import annotations

from shadowcat_data_spark import registry

from .conftest import SF_DIR

# perfbench's analytics workload: scans, joins, aggregates, windows,
# dedup, vector top-k, text and the pandas UDF path
ANALYTICS_MIX = (
    "a1_pricing_summary",
    "j1_inner_join",
    "w2_topk_per_group",
    "o5_dedup_latest",
    "q3_shipping_priority",
    "q9_product_profit",
    "l1_exact_dedup",
    "l3_cosine_topk",
    "l5_tfidf_top_terms",
    "u1_pandas_udf",
)


def test_repeated_mix_compiles_no_generated_code(spark):
    specs = registry.load_all()
    metric = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def one_round() -> int:
        before = metric.getCount()
        for name in ANALYTICS_MIX:
            specs[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return metric.getCount() - before

    one_round()  # compiles whatever earlier tests left uncached
    assert one_round() == 0
