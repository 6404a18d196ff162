"""Spark's generated-class cache holds a served registry's working set.

A spec served again and again plans the same operator shapes again and
again; with Spark's default cache of 100 generated classes, a working set
above 100 is evicted and recompiled by Janino on every cycle. These tests
read Spark's compile counter (``CodegenMetrics``) and pin that a repeated
pass compiles nothing new.
"""

import pytest
from pyspark.sql import functions as F

from conftest import make_panel
from views_transformation_library_spark import session
from views_transformation_library_spark.operators import dedup, profiling, spatial_graph, trees


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_working_set_compiles_nothing(spark):
    """150 projections that differ only in an inlined long literal are 150
    distinct generated classes; a second pass over them must hit the cache.
    At Spark's default of 100 entries the second pass recompiles them."""
    base = spark.range(8)

    def one_pass():
        for k in range(150):
            base.select((F.col("id") * (k + 1_000_003)).alias("v")).collect()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before == 0


def _grid(spark):
    cells = [(r, c) for r in range(4) for c in range(4)]
    return make_panel(
        spark, [(t, r * 720 + c + 1, float(t + r + c)) for t in range(3) for r, c in cells]
    )


def _docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base), (2, base), (100, base), (7, "totally different words here")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ring2(spark):
    vals = {57: 0.0, 59: 281.0, 120: 0.0, 235: 18.0, 237: 18.0, 242: 0.0}
    pairs = [(237, 59), (237, 235), (57, 120), (242, 57)]
    edges = spark.createDataFrame(
        [(229, a, b) for x, y in pairs for a, b in ((x, y), (y, x))],
        "month_id long, a_id long, b_id long",
    )
    panel = make_panel(spark, [(229, c, v) for c, v in vals.items()])
    return spatial_graph.splag_country(panel, edges, None, 1, 2)


def _quantiles(spark):
    panel = make_panel(spark, [(t, u, float(t * u)) for t in range(8) for u in range(3)])
    return profiling.exact_quantiles(panel, "value")


# Adaptive execution re-plans as stages finish, so how many classes a
# repeat compiles depends on task timing (fuzzy_dedup_keep compiled 0, 4, 6
# or 9 on its second run, splag_country 0 or 3); with it off the plans, and
# so the classes, are fixed.
@pytest.mark.parametrize(
    "build",
    [
        pytest.param(lambda s: trees.spatial_tree_lag(_grid(s), 0.5, 0), id="spatial_tree_lag"),
        pytest.param(lambda s: trees.grid_lag(_grid(s), 50.0, 0), id="grid_lag"),
        pytest.param(lambda s: dedup.fuzzy_dedup_keep(_docs(s), n=2), id="fuzzy_dedup_keep"),
        pytest.param(_ring2, id="splag_country"),
        pytest.param(_quantiles, id="exact_quantiles"),
    ],
)
def test_repeated_operator_compiles_nothing(spark, build):
    """Building and running an operator a second time, as a served spec
    does every cycle, reuses every class the first execution generated:
    no operator inlines a per-build value (a seed, a name, a size) into
    generated code."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = sorted(build(spark).collect())
        before = _compiles(spark)
        second = sorted(build(spark).collect())
        assert _compiles(spark) - before == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert second == first


def test_partitions_are_listed_on_the_driver(served):
    """A get_spark session never lists a read path's directories through a
    Spark job: at Spark's default threshold of 32 directories a month table
    of more months is listed by a job of one task per directory, which in
    local mode runs in the driver's own JVM and measured 10-30x slower than
    listing them on the driver (session.py)."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert served.conf.get(key) == str(session.PARTITION_DISCOVERY_THRESHOLD)
    assert session.PARTITION_DISCOVERY_THRESHOLD == 2**31 - 1  # Int.MaxValue: never
