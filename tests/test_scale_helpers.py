"""Streaming sliding windows (the skew helpers were retired in r2 —
salted aggregation duplicated Spark's map-side partial aggregation for
sum/count, and join skew is AQE skew-join's job; pattern documented in
SCALE.md §skew)."""

import os

import pandas as pd

from views_transformation_library_spark.streaming.windows import sliding_sum_stream


def test_sliding_sum_stream(spark, tmp_path):
    src = str(tmp_path / "s")
    os.makedirs(src)
    pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-02 00:00", "2024-01-05 00:00"]
            ),
            "user_id": [1, 1, 1],
            "value": [10.0, 20.0, 5.0],
        }
    ).to_parquet(src + "/a.parquet", coerce_timestamps="us", allow_truncated_timestamps=True)
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double").parquet(src)
    )
    out = sliding_sum_stream(stream, window="2 days", slide="1 day", watermark="1 day")
    q = (
        out.writeStream.format("memory")
        .queryName("slide_out")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM slide_out").collect()
    finally:
        q.stop()
    by_start = {str(r["window_start"]): r["moving_sum"] for r in rows}
    # window starting Jan 1 covers Jan 1-2: 30.0
    assert by_start["2024-01-01 00:00:00"] == 30.0
    # window starting Jan 4 covers Jan 5 event
    assert by_start["2024-01-04 00:00:00"] == 5.0


def test_collect_axis_bound(spark):
    """r8 axis guard (VERDICT r6 #8): driver-side axis pulls are
    LIMIT-bounded — a mis-keyed call (fact ids instead of a bounded key
    axis) raises a clear error instead of collecting the table; in-bound
    axes come back as the sorted tuple the geometry caches key on."""
    import pytest
    from views_transformation_library_spark.panel import collect_axis

    df = spark.createDataFrame([(i % 7, i) for i in range(100)], "k long, v long")
    assert collect_axis(df, "k", cap=10, what="time axis") == tuple(range(7))
    with pytest.raises(ValueError, match="bounded key axis"):
        collect_axis(df, "v", cap=10, what="unit (grid) axis")


def test_tree_operators_use_bounded_axis(spark):
    """The tree/fourier geometry builders pull their axes through the
    bounded helper — a panel keyed by an oversized axis fails fast."""
    import pytest
    from views_transformation_library_spark.operators import trees
    from views_transformation_library_spark import panel as P

    df = spark.createDataFrame(
        [(t, u, float(t + u)) for t in range(3) for u in range(4)],
        f"{P.TIME} long, {P.UNIT} long, x double",
    )
    # sanity: small axes pass straight through the guarded pull
    out = trees.temporal_tree_lag(df, thetacrit=0.5)
    assert out.count() == 12
    # an absurd cap monkey-able? simulate oversize by shrinking the cap
    big = spark.range(0, 300).selectExpr(
        f"id as {P.TIME}", f"id as {P.UNIT}", "cast(id as double) as x"
    )
    orig = P.TIME_AXIS_CAP
    trees.TIME_AXIS_CAP = 100  # trees imported the name by value
    try:
        with pytest.raises(ValueError, match="bounded key axis"):
            trees.temporal_tree_lag(big, thetacrit=0.5)
    finally:
        trees.TIME_AXIS_CAP = orig


def test_default_driver_memory_follows_host(tmp_path):
    """Half of MemTotal in whole GiB, clamped to [1g, 24g]; the ceiling
    when MemTotal cannot be read."""
    from views_transformation_library_spark.session import default_driver_memory

    def sized(total_kib):
        p = tmp_path / "meminfo"
        p.write_text(f"MemFree:  1024 kB\nMemTotal:  {total_kib} kB\n")
        return default_driver_memory(str(p))

    gib = 1024 * 1024
    assert sized(15 * gib + 512) == "7g"
    assert sized(128 * gib) == "24g"
    assert sized(gib) == "1g"
    assert default_driver_memory(str(tmp_path / "absent")) == "24g"
