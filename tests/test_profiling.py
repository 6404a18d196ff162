"""Column profiling: exact tier vs hand counts, sketch tier vs exact."""

import pytest
from pyspark.sql import functions as F

from views_transformation_library_spark.operators import profiling


@pytest.fixture()
def frame(spark):
    rows = [
        (1, 10.25, None),
        (2, 10.25, 5.0),
        (3, -3.50, 5.0),
        (4, None, 7.5),
        (5, 0.00, 7.5),
    ]
    return spark.createDataFrame(rows, "id long, a double, b double")


def test_profile_exact(frame):
    out = {r["column"]: r for r in profiling.profile(frame, ["a", "b"]).collect()}
    a, b = out["a"], out["b"]
    assert a["n"] == 5 and a["n_null"] == 1 and a["n_distinct"] == 3
    assert a["min_val"] == -3.5 and a["max_val"] == 10.25
    assert a["sum_val"] == 17.0 and a["mean_val"] == 4.25
    assert b["n_null"] == 1 and b["n_distinct"] == 2
    assert b["sum_val"] == 25.0 and b["mean_val"] == 6.25


def test_profile_all_null_column(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "id long, x double")
    r = profiling.profile(df, ["x"]).collect()[0]
    assert r["n"] == 2 and r["n_null"] == 2 and r["n_distinct"] == 0
    assert r["min_val"] is None and r["sum_val"] is None and r["mean_val"] is None


def test_profile_validation(frame):
    with pytest.raises(ValueError, match="non-empty"):
        profiling.profile(frame, [])
    with pytest.raises(ValueError, match="not in frame"):
        profiling.profile(frame, ["a", "zz"])


def test_profile_approx_close_to_exact(spark):
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 997).cast("double").alias("v")
    )
    exact = {r["column"]: r for r in profiling.profile(df, ["v"]).collect()}
    approx = {
        r["column"]: r for r in profiling.profile_approx(df, ["v"], rsd=0.02).collect()
    }
    e, s = exact["v"], approx["v"]
    assert s["n"] == e["n"] and s["n_null"] == e["n_null"]
    # HLL++ rsd is a standard deviation, not a hard bound: allow 3 sigma
    assert abs(s["approx_distinct"] - e["n_distinct"]) <= 3 * 0.02 * e["n_distinct"]
    assert s["min_val"] == e["min_val"] and s["max_val"] == e["max_val"]
    # median of id % 997 over 10k rows is ~498
    assert abs(s["q_50"] - 498.0) < 30


def test_profile_sketch_matches_hll_distinct(spark):
    """profile_sketch's register pipeline must agree with
    sketches.hll_distinct (same hash, rank, harmonic sum) on the same
    column, and its exact stats with the exact tier."""
    from views_transformation_library_spark.operators import sketches

    df = spark.range(5_000).select(
        F.col("id"), (F.col("id") % 731).alias("v")
    )
    ps = {r["column"]: r for r in profiling.profile_sketch(df, ["v"], p=6).collect()}
    hd = sketches.hll_distinct(df, "v", p=6).collect()[0]
    ex = {r["column"]: r for r in profiling.profile(df, ["v"]).collect()}
    s, e = ps["v"], ex["v"]
    assert s["n_zero"] == hd["n_zero"] and s["s_scaled"] == hd["s_scaled"]
    assert s["approx_distinct"] == hd["estimate"]
    assert s["n"] == e["n"] and s["n_null"] == e["n_null"]
    assert s["min_val"] == e["min_val"] and s["max_val"] == e["max_val"]
    # raw-regime estimate quality (731 distinct >= 2.5 * 64)
    assert abs(s["approx_distinct"] - 731) <= 0.3 * 731


def test_profile_sketch_all_null_and_multi(spark):
    df = spark.createDataFrame(
        [(1, None, 7), (2, None, 7), (3, None, 9)], "id long, x long, y long"
    )
    out = {r["column"]: r for r in profiling.profile_sketch(df, ["x", "y"], p=4).collect()}
    x, y = out["x"], out["y"]
    # empty sketch: every register zero, s_scaled = m * 2^K
    assert x["n"] == 3 and x["n_null"] == 3
    assert x["n_zero"] == 16 and x["s_scaled"] == 16 * (1 << 57)
    assert y["n_null"] == 0 and y["min_val"] == 7.0 and y["max_val"] == 9.0
    assert y["n_zero"] == 14  # 2 distinct values -> 2 registers hit


def test_exact_quantiles_rejects_fractional_percent(frame):
    with pytest.raises(ValueError, match="integers"):
        profiling.exact_quantiles(frame, "a", percents=[50.5])
    with pytest.raises(ValueError, match="integers"):
        profiling.exact_quantiles(frame, "a", percents=[0])
    # integral floats are fine (50.0 == 50)
    profiling.exact_quantiles(frame, "a", percents=[50.0])


def test_approx_quantiles_hist_error_bound(spark):
    """The returned bucket must contain the true (type-1) quantile:
    lo_edge <= exact value < hi_edge, i.e. error bounded by the bucket
    width w = (hi - lo) / n_buckets."""
    df = spark.range(10_000).select(
        F.col("id"), ((F.col("id") * 7919) % 9973).cast("double").alias("v")
    )
    out = {
        r["percent"]: r
        for r in profiling.approx_quantiles_hist(
            df, "v", lo=0.0, hi=10_000.0, n_buckets=512, percents=(25, 50, 75)
        ).collect()
    }
    exact = {
        r["percent"]: r["value"]
        for r in profiling.exact_quantiles(df, "v", percents=(25, 50, 75)).collect()
    }
    for p in (25, 50, 75):
        assert out[p]["lo_edge"] <= exact[p] < out[p]["hi_edge"]
        assert out[p]["hi_edge"] - out[p]["lo_edge"] == 10_000.0 / 512
        assert out[p]["n"] == 10_000


def test_approx_quantiles_hist_clamps_and_groups(spark):
    df = spark.createDataFrame(
        [("a", -5.0), ("a", 1.0), ("a", 2.0), ("a", 99.0), ("b", 500.0)],
        "g string, v double",
    )
    out = profiling.approx_quantiles_hist(
        df, "v", lo=0.0, hi=10.0, n_buckets=10, percents=(50,), group_cols=["g"]
    ).collect()
    by_g = {r["g"]: r for r in out}
    # group a: n=4, rank=2 -> second value (1.0, after the clamped -5.0
    # in bucket 0) -> bucket 1
    assert by_g["a"]["bucket"] == 1 and by_g["a"]["n"] == 4
    # out-of-range high clamps to the last bucket
    assert by_g["b"]["bucket"] == 9


def test_approx_quantiles_hist_validation(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="integers"):
        profiling.approx_quantiles_hist(df, "v", 0.0, 1.0, percents=[50.5])
    with pytest.raises(ValueError, match="lo < hi"):
        profiling.approx_quantiles_hist(df, "v", 1.0, 1.0)
    with pytest.raises(ValueError, match="n_buckets"):
        profiling.approx_quantiles_hist(df, "v", 0.0, 1.0, n_buckets=0)


def test_profile_single_aggregate_plan(frame):
    """The sketch tier must stay ONE ordinary hash aggregate — no Expand."""
    plan = profiling.profile_approx(frame, ["a", "b"])._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


# ---------------------------------------------------------------------------
# exact_quantiles (strict tier; type-1 / lower-quantile selection)


def _type1(sorted_vals, p):
    import math

    n = len(sorted_vals)
    rank = (p * n + 99) // 100  # ceil(p*n/100), all-integer
    return sorted_vals[rank - 1]


def test_exact_quantiles_matches_type1_selection(spark):
    import random

    from views_transformation_library_spark.operators import profiling

    rng = random.Random(11)
    vals = [round(rng.uniform(0, 100), 2) for _ in range(501)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {
        r["percent"]: (r["value"], r["rank"], r["n"])
        for r in profiling.exact_quantiles(df, "x", (1, 25, 50, 75, 99, 100)).collect()
    }
    s = sorted(vals)
    for p in (1, 25, 50, 75, 99, 100):
        v, rank, n = got[p]
        assert n == 501
        assert rank == (p * 501 + 99) // 100
        assert v == _type1(s, p), p


def test_exact_quantiles_grouped_with_ties_and_nulls(spark):
    from views_transformation_library_spark.operators import profiling

    rows = (
        [("a", 1.0)] * 10 + [("a", 2.0)] * 10 + [("a", None)] * 5
        + [("b", 7.0)] * 3 + [("b", 9.0)]
    )
    df = spark.createDataFrame(rows, "g string, x double")
    got = {
        (r["g"], r["percent"]): (r["value"], r["n"])
        for r in profiling.exact_quantiles(df, "x", (50, 100), ["g"]).collect()
    }
    # group a: N=20 (nulls excluded); p50 rank 10 -> 1.0, p100 rank 20 -> 2.0
    assert got[("a", 50)] == (1.0, 20)
    assert got[("a", 100)] == (2.0, 20)
    # group b: N=4; p50 rank 2 -> 7.0, p100 rank 4 -> 9.0
    assert got[("b", 50)] == (7.0, 4)
    assert got[("b", 100)] == (9.0, 4)
    # exactly one row per (group, percent) — the crossing filter is unique
    assert len(got) == 4

def test_exact_quantiles_raw_row_path_matches_aggregate_path(spark):
    """pre_aggregate=False (the near-unique-column plan, r13 opt) must
    return the IDENTICAL row set as the default aggregate path — ties,
    nulls, groups, and duplicate-collapse included."""
    from views_transformation_library_spark.operators import profiling

    rows = (
        [("a", 1.0)] * 10 + [("a", 2.0)] * 10 + [("a", None)] * 5
        + [("b", 7.0)] * 3 + [("b", 9.0)]
        + [("c", float(i)) for i in range(50)]  # near-unique group
    )
    df = spark.createDataFrame(rows, "g string, x double")
    kw = dict(percents=(25, 50, 75, 100), group_cols=["g"])
    agg = sorted(map(tuple, profiling.exact_quantiles(df, "x", **kw).collect()))
    raw = sorted(
        map(
            tuple,
            profiling.exact_quantiles(df, "x", pre_aggregate=False, **kw).collect(),
        )
    )
    assert agg == raw
    # one row per (group, percent) — the distinct collapsed the duplicates
    assert len(raw) == 12


def test_exact_quantiles_range_path_matches_other_paths(spark):
    """range_buckets (the r14 100 TB near-unique tier) must return the
    IDENTICAL row set as both other paths at any bucket count — ties,
    nulls, NaN (sorts greatest), single-value groups, and ranks landing
    exactly on bucket boundaries included."""
    from views_transformation_library_spark.operators import profiling

    rows = (
        [("a", 1.0)] * 10 + [("a", 2.0)] * 10 + [("a", None)] * 5
        + [("b", 7.0)] * 3 + [("b", 9.0)]
        + [("c", float(i)) for i in range(50)]      # near-unique group
        + [("d", 5.0)] * 4                           # single-value group
        + [("e", float("nan"))] * 2 + [("e", 1.0), ("e", 3.0)]  # NaN tail
    )
    df = spark.createDataFrame(rows, "g string, x double")
    kw = dict(percents=(1, 25, 50, 75, 100), group_cols=["g"])
    agg = sorted(map(tuple, profiling.exact_quantiles(df, "x", **kw).collect()))

    def eq(a, b):
        # NaN != NaN under ==; compare with repr so NaN rows match
        assert [tuple(map(repr, r)) for r in a] == [
            tuple(map(repr, r)) for r in b
        ]

    for b in (1, 2, 7, 64):
        rng = sorted(
            map(
                tuple,
                profiling.exact_quantiles(
                    df, "x", range_buckets=b, **kw
                ).collect(),
            )
        )
        eq(agg, rng)
    # ungrouped + integer dtype
    dfi = spark.createDataFrame([(i % 13,) for i in range(101)], "x long")
    a2 = sorted(map(tuple, profiling.exact_quantiles(dfi, "x").collect()))
    r2 = sorted(
        map(tuple, profiling.exact_quantiles(dfi, "x", range_buckets=5).collect())
    )
    assert a2 == r2
    import pytest

    with pytest.raises(ValueError, match="numeric"):
        profiling.exact_quantiles(df, "g", range_buckets=4)


def test_exact_quantiles_range_path_non_finite(spark):
    """±Inf stay out of range_buckets' min/max (as NaN does): -Inf pins
    to bucket 0, +Inf to the top bucket, so every row keeps its rank and
    the tier returns the raw path's rows."""
    from views_transformation_library_spark.operators import profiling

    inf = float("inf")
    rows = (
        [("a", -inf), ("a", inf), ("a", float("nan"))]
        + [("a", float(i)) for i in range(20)]
        + [("b", inf)] * 3 + [("b", -inf)] * 2 + [("b", float("nan"))]
        + [("c", -inf), ("c", 4.0)]
    )
    df = spark.createDataFrame(rows, "g string, x double")
    kw = dict(percents=(1, 10, 25, 50, 75, 90, 96, 100), group_cols=["g"])

    def rows_of(out):
        return sorted(tuple(map(repr, r)) for r in out.collect())

    raw = rows_of(profiling.exact_quantiles(df, "x", pre_aggregate=False, **kw))
    assert len(raw) == 3 * len(kw["percents"])
    for b in (1, 3, 16):
        assert rows_of(profiling.exact_quantiles(df, "x", range_buckets=b, **kw)) == raw


def test_exact_quantiles_range_path_rejects_dates(spark):
    import datetime

    import pytest

    from views_transformation_library_spark.operators import profiling

    df = spark.createDataFrame(
        [(datetime.date(2020, 1, d),) for d in range(1, 5)], "d date"
    )
    with pytest.raises(ValueError, match="got 'd': date"):
        profiling.exact_quantiles(df, "d", range_buckets=4)


def test_exact_quantiles_rejects_out_of_range_percents(spark):
    import pytest

    from views_transformation_library_spark.operators import profiling

    df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    for bad in (0, -5, 101):
        with pytest.raises(ValueError, match="percents"):
            profiling.exact_quantiles(df, "x", (50, bad))


def test_percent_validation_coercion_and_errors(spark):
    """ADVICE r12: numeric strings coerce ('50' == 50 after float()),
    non-numerics raise the intended ValueError (not a bare TypeError),
    fractional strings are rejected like fractional floats."""
    import pytest

    from views_transformation_library_spark.operators import profiling

    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    got = {r["percent"] for r in profiling.exact_quantiles(df, "x", ("50",)).collect()}
    assert got == {50}
    for fn in (
        lambda p: profiling.exact_quantiles(df, "x", (p,)),
        lambda p: profiling.approx_quantiles_hist(df, "x", 0.0, 4.0, 4, (p,)),
    ):
        for bad in ("abc", None, "50.5", 50.5, 0, 101):
            with pytest.raises(ValueError, match="percents"):
                fn(bad)


def test_approx_quantiles_hist_drops_nan(spark):
    """ADVICE r12: NaN is treated like NULL (dropped), not floored into
    bucket 0 — keeps Spark and the DuckDB mirror agreeing on non-finite
    inputs."""
    from views_transformation_library_spark.operators import profiling

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (float("nan"),), (None,)], "x double"
    )
    rows = profiling.approx_quantiles_hist(df, "x", 0.0, 4.0, 4, (100,)).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 2  # NaN and NULL both excluded from N
    assert rows[0]["bucket"] == 2  # value 2.0 -> bucket 2, not skewed by NaN


def test_profile_sketch_non_numeric_string_column(spark):
    """r13: string columns are sanctioned input (hashing is string-cast);
    non-numeric values must yield NULL min/max via try_cast instead of an
    ANSI CAST_INVALID_INPUT throw (hit on l_returnflag in the wide sweep)."""
    from views_transformation_library_spark.operators import profiling

    df = spark.createDataFrame(
        [("A", 1), ("B", 2), ("A", 3), (None, 4)], "flag string, k long"
    )
    rows = {r["column"]: r for r in profiling.profile_sketch(df, ["flag", "k"], p=6).collect()}
    assert rows["flag"]["n"] == 4 and rows["flag"]["n_null"] == 1
    assert rows["flag"]["min_val"] is None and rows["flag"]["max_val"] is None
    assert rows["flag"]["approx_distinct"] is not None
    assert rows["k"]["min_val"] == 1.0 and rows["k"]["max_val"] == 4.0
