"""Session confs whose effect is a measured cost, not a plan shape."""

from __future__ import annotations

from adt_spark import ADTContext
from adt_spark.queries import load_all

#: the window and ranking statements of the ``sql_windows`` benchmark
#: workload: one round of them generates about 150 distinct codegen
#: classes, more than Spark's default codegen cache holds (100)
WINDOW_STATEMENTS = (
    "q_sql_global_rank",
    "q_sql_ratio_to_total",
    "q_window_exclude_range_value",
    "q_window_exclude_rows",
    "q_window_unbounded_following",
    "q_window_groups_frame",
)


def _codegen_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_window_statements_compile_no_codegen(spark, sf_dir):
    """A second round of the same statements finds every generated
    class in the codegen cache (``spark.sql.codegen.cache.maxEntries``
    in ``build_session``).  At Spark's default cap the round cycles
    through more classes than the cache holds, and every class is
    recompiled on every round."""
    ctx = ADTContext(spark=spark)
    ctx.register_sf_dir(sf_dir)
    reg = load_all()
    texts = [reg[name].oracle for name in WINDOW_STATEMENTS]
    for text in texts:
        ctx.sql(text).toPandas()
    before = _codegen_compiles(spark)
    for text in texts:
        ctx.sql(text).toPandas()
    assert _codegen_compiles(spark) - before == 0
