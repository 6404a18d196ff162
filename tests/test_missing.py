"""Missing-data family: golden values + differential vs pandas.

pandas is the exact behavioral oracle here: the reference implements these
ops as thin pandas one-liners (ffill/bfill/interpolate/groupby-transform,
reference missing.py), so comparing against the same public pandas calls on
the same data checks parity without touching reference code.
"""

import math

import numpy as np
import pandas as pd
import pytest

from conftest import collect_panel, make_panel
from views_transformation_library_spark.operators import missing


def vals(df):
    return [v for (_, _, v) in collect_panel(df)]


@pytest.fixture()
def gappy(spark):
    # unit 1: leading nulls, interior gap, trailing nulls; unit 2: all null
    rows = [
        (1, 1, None), (2, 1, None), (3, 1, 3.0), (4, 1, None), (5, 1, None),
        (6, 1, 9.0), (7, 1, None),
        (1, 2, None), (2, 2, None), (3, 2, None), (4, 2, None), (5, 2, None),
        (6, 2, None), (7, 2, None),
    ]
    return make_panel(spark, rows)


def ref_pdf(rows):
    pdf = pd.DataFrame(rows, columns=["time_id", "unit_id", "value"])
    return pdf.sort_values(["unit_id", "time_id"])


def test_replace_na(gappy):
    assert vals(missing.replace_na(gappy, -1)) == [-1, -1, 3.0, -1, -1, 9.0, -1] + [-1] * 7


def test_list_totally_missing(spark):
    rows = [(1, 1, 1.0, None), (2, 1, None, None)]
    df = make_panel(spark, rows, cols=("time_id", "unit_id", "a", "b"))
    assert missing.list_totally_missing(df) == ["b"]


@pytest.mark.parametrize(
    "direction,area",
    [
        ("both", None), ("forward", None), ("backward", None),
        ("forward", "inside"), ("backward", "inside"),
        ("both", "outside"),
    ],
)
def test_fill_differential_vs_pandas(spark, gappy, direction, area):
    rows = [
        (1, 1, None), (2, 1, None), (3, 1, 3.0), (4, 1, None), (5, 1, None),
        (6, 1, 9.0), (7, 1, None),
    ]
    df = make_panel(spark, rows)
    got = vals(missing.fill(df, limit_direction=direction, limit_area=area))

    # pandas mirror of reference _fill_by_group (missing.py:100-127)
    s = pd.Series([None, None, 3.0, None, None, 9.0, None], dtype=float)
    first, last = s.first_valid_index(), s.last_valid_index()
    exp = s.copy()
    if area == "inside":
        # reference slices a MultiIndex: label-based, both ends inclusive -> .loc
        seg = exp.loc[first:last]
        exp.loc[first:last] = seg.bfill() if direction == "backward" else seg.ffill()
    elif area == "outside":
        exp.loc[:first] = exp.loc[:first].bfill()
        exp.loc[last:] = exp.loc[last:].ffill()
    elif direction == "forward":
        exp = exp.ffill()
    elif direction == "backward":
        exp = exp.bfill()
    else:
        exp = exp.ffill().bfill()
    expected = [None if pd.isna(v) else v for v in exp]
    assert got == expected


@pytest.mark.parametrize(
    "direction,area",
    [("both", None), ("forward", None), ("backward", None), ("both", "inside"), ("both", "outside")],
)
def test_extrapolate_differential_vs_pandas(spark, direction, area):
    raw = [None, None, 2.0, None, None, 8.0, None, 1.0, None]
    rows = [(t + 1, 1, v) for t, v in enumerate(raw)]
    df = make_panel(spark, rows)
    got = vals(missing.extrapolate(df, limit_direction=direction, limit_area=area))

    s = pd.Series(raw, dtype=float)
    exp = s.interpolate(method="linear", limit_direction=direction, limit_area=area)
    expected = [None if pd.isna(v) else v for v in exp]
    assert got == pytest.approx(expected)


def test_fill_with_group_and_global_means(spark):
    rows = [
        (1, 1, 2.0), (2, 1, None), (3, 1, 4.0),   # unit mean 3.0
        (1, 2, None), (2, 2, None), (3, 2, None),  # all-null unit -> global mean 3.0
    ]
    df = make_panel(spark, rows)
    assert vals(missing.fill_with_group_and_global_means(df)) == [2.0, 3.0, 4.0, 3.0, 3.0, 3.0]


def test_fill_groups_with_time_means(gappy):
    out = collect_panel(missing.fill_groups_with_time_means(gappy))
    by_key = {(u, t): v for (u, t, v) in out}
    # unit 1 untouched (has data)
    assert by_key[(1, 3)] == 3.0 and by_key[(1, 4)] is None
    # unit 2 (all-null) filled with per-time cross-unit means
    assert by_key[(2, 3)] == 3.0 and by_key[(2, 6)] == 9.0
    # times where no unit has data stay null
    assert by_key[(2, 1)] is None


def test_fill_rejects_bad_arguments(spark, gappy):
    with pytest.raises(ValueError):
        missing.fill(gappy, limit_direction="foward")  # typo must not mean 'both'
    with pytest.raises(ValueError):
        missing.extrapolate(gappy, limit_area="insid")


def test_impute_mice_fills_and_clips(spark):
    rows = [(t, 1, float(t) if t % 2 else None, float(t)) for t in range(1, 9)]
    df = make_panel(spark, rows, cols=("time_id", "unit_id", "a", "b"))
    draws = missing.impute_mice(df, n_imputations=2, n_shards=1)
    assert len(draws) == 2
    res = draws[0].toPandas()
    assert res["a"].notna().all()
    # imputed values clipped to observed [min, max] (reference missing.py:192-207)
    assert res["a"].between(1.0, 7.0).all()
    # observed values are never modified
    obs = res[res["time_id"] % 2 == 1]
    assert (obs["a"] == obs["time_id"].astype(float)).all()
    # the two draws differ (posterior sampling) but are each reproducible
    res2 = draws[1].toPandas()
    assert not res.equals(res2)
    again = missing.impute_mice(df, n_imputations=2, n_shards=1)[0].toPandas()
    assert res.sort_values("time_id").reset_index(drop=True).equals(
        again.sort_values("time_id").reset_index(drop=True)
    )


def test_iterative_ridge_converges_on_planted_linear_relation():
    """a = 3b + 1 with 30% of 'a' planted missing: the deterministic path
    (sample_posterior=False) must recover the linear relation closely."""
    import numpy as np

    rng = np.random.RandomState(7)
    b = rng.uniform(0, 10, size=200)
    a = 3.0 * b + 1.0
    X = np.column_stack([a, b])
    hide = rng.rand(200) < 0.3
    X_missing = X.copy()
    X_missing[hide, 0] = np.nan
    filled = missing._iterative_ridge_impute(
        X_missing, seed=0, sample_posterior=False
    )
    assert np.abs(filled[hide, 0] - a[hide]).max() < 1e-3
    # observed entries bit-identical
    assert (filled[~hide, 0] == a[~hide]).all()
    assert (filled[:, 1] == b).all()


def test_impute_mice_draws_generator_matches_list(spark):
    """The lazy generator surface (reference missing.py:212-230 shape)
    materializes to exactly the list API's draws: same per-draw seeding,
    deterministic results."""
    import types

    rows = [(t, 1, float(t) if t % 3 else None, float(t) * 2) for t in range(1, 10)]
    df = make_panel(spark, rows, cols=("time_id", "unit_id", "a", "b"))
    gen = missing.impute_mice_draws(
        df, n_imputations=2, n_shards=1, sample_posterior=False
    )
    assert isinstance(gen, types.GeneratorType)
    from_gen = [sorted(map(tuple, d.collect())) for d in gen]
    from_list = [
        sorted(map(tuple, d.collect()))
        for d in missing.impute_mice(
            df, n_imputations=2, n_shards=1, sample_posterior=False
        )
    ]
    assert from_gen == from_list


def test_make_panel_keeps_nan_apart_from_null(spark):
    """The test helper must not turn NaN into NULL (pandas' Arrow
    conversion does): NaN-vs-NULL cases in this suite mean what they say."""
    from pyspark.sql import functions as F

    df = make_panel(spark, [(1, 1, float("nan")), (2, 1, None), (3, 1, 2)])
    got = {r["time_id"]: r["value"] for r in df.collect()}
    assert math.isnan(got[1]) and got[2] is None and got[3] == 2.0
    assert df.filter(F.col("value").isNull()).count() == 1
    assert df.filter(F.isnan("value")).count() == 1
