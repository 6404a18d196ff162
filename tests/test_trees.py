"""Tree lags: structural invariants + brute-force differentials.

Key invariant (makes the temporal tree testable without porting the walk):
for any thetacrit, the accepted nodes' intervals tile the past exactly once,
so with uniform weights the lag == cumulative sum over [tstart, tnow] —
checkable against a plain pandas cumsum.
"""

import math
import re

import numpy as np
import pytest

from pyspark.sql import functions as F
from conftest import collect_panel, forbid_count, make_panel
from views_transformation_library_spark import plans
from views_transformation_library_spark.operators import trees


# ---------------------------------------------------------------------------
# temporal tree

def test_temporal_geometry_tiles_past():
    times = list(range(100, 131))
    geo = trees.TemporalTreeGeometry(times)
    for tnow in times[:-1]:
        nodes = geo.walk(tnow, thetacrit=0.7)
        covered = []
        for nid in nodes:
            n = geo.nodes[nid]
            covered.extend(range(max(n.start, 100), min(n.end, 131)))
        # intervals clipped to data times tile [tstart, tnow] exactly once
        assert sorted(covered) == list(range(100, tnow + 1)), tnow
    # last timestep: no leaf -> empty walk (reference emits zeros)
    assert geo.walk(times[-1], 0.7) == []


@pytest.mark.parametrize("thetacrit", [0.1, 0.7, 2.0])
def test_temporal_tree_uniform_equals_cumsum(spark, thetacrit):
    rng = np.random.RandomState(3)
    times = list(range(50, 71))
    rows = [(t, u, float(rng.randint(0, 10))) for t in times for u in (1, 2)]
    df = make_panel(spark, rows)
    out = {(u, t): v for (u, t, v) in collect_panel(
        trees.temporal_tree_lag(df, thetacrit, "uniform")
    )}
    vals = {(t, u): v for (t, u, v) in rows}
    for u in (1, 2):
        run = 0.0
        for t in times[:-1]:
            run += vals[(t, u)]
            assert out[(u, t)] == pytest.approx(run), (u, t)
        assert out[(u, times[-1])] == 0.0  # last timestep: empty walk


def test_temporal_tree_weighted_brute_force(spark):
    # small panel; brute-force from the geometry's own interaction table
    # exercises the cum-diff data path (not the walk itself)
    rng = np.random.RandomState(5)
    times = list(range(10, 27))
    rows = [(t, 7, float(rng.randint(0, 100))) for t in times]
    df = make_panel(spark, rows)
    sigma = 4.0
    for fn in ("oneovert", "expon", "ramp", "sigmoid"):
        geo = trees.TemporalTreeGeometry(times)
        inter = geo.interactions(0.8, [fn], sigma)
        vals = {t: v for (t, _, v) in rows}
        expected = {}
        for (tnow, s, e, _, w) in inter:
            acc = sum(vals.get(t, 0.0) for t in range(s, e))
            expected[tnow] = expected.get(tnow, 0.0) + w * acc
        out = {t: v for (_, t, v) in collect_panel(
            trees.temporal_tree_lag(df, 0.8, fn, sigma)
        )}
        for t in times[:-1]:
            assert out[t] == pytest.approx(expected.get(t, 0.0)), (fn, t)


def test_temporal_tree_rejects_gapped_time_axis(spark):
    # cum-diff interval sums are only valid on a gapless axis; a gap must
    # raise (not silently produce corrupt interval sums)
    rows = [(t, 1, 1.0) for t in [1, 2, 4, 5]]
    df = make_panel(spark, rows)
    with pytest.raises(ValueError, match="gapless"):
        trees.temporal_tree_lag(df, 0.7, "uniform")


def test_spatial_tree_single_unit_all_zero(spark):
    # only leaf is the excluded self -> empty interaction set -> zeros
    df = make_panel(spark, [(1, 721, 5.0), (2, 721, 7.0)])
    out = collect_panel(trees.spatial_tree_lag(df, 1e-9, 0))
    assert [(u, v) for (u, _, v) in out] == [(721, 0.0), (721, 0.0)]


def test_temporal_tree_multiple_weight_functions(spark):
    times = list(range(5, 14))
    rows = [(t, 1, 1.0) for t in times]
    df = make_panel(spark, rows)
    out = trees.temporal_tree_lag(df, 0.5, ["uniform", "ramp"], sigma=3.0)
    assert set(out.columns) == {"time_id", "unit_id", "value_uniform", "value_ramp"}


# ---------------------------------------------------------------------------
# spatial tree

def test_spatial_tree_root_only_when_theta_huge(spark):
    # thetacrit huge -> every target interacts with the root alone:
    # lag = w(d_root) * (total sum per time)
    pgids = [lat * 720 + lon for lat in range(4) for lon in range(4)]
    rng = np.random.RandomState(9)
    rows = [(1, p, float(rng.randint(1, 10))) for p in pgids]
    df = make_panel(spark, rows)
    total = sum(v for (_, _, v) in rows)
    geo = trees.SpatialTreeGeometry(pgids)
    out = {u: v for (u, _, v) in collect_panel(trees.spatial_tree_lag(df, 1e9, 0))}
    for p in pgids:
        tx, ty = geo.elon[p] + 0.5, geo.elat[p] + 0.5
        cx = cy = geo.ncells / 2.0
        d = math.sqrt((tx - cx + 0.01) ** 2 + (ty - cy + 0.01) ** 2)
        assert out[p] == pytest.approx(total / math.log(1 + d)), p


@pytest.mark.parametrize("dopt", [0, 1, 2])
def test_spatial_tree_all_leaves_when_theta_tiny(spark, dopt):
    # thetacrit tiny -> full split: lag = sum over *other* cells of val * w(d)
    pgids = [lat * 720 + lon for lat in range(4) for lon in range(4)]
    rng = np.random.RandomState(13)
    rows = [(1, p, float(rng.randint(1, 10))) for p in pgids]
    df = make_panel(spark, rows)
    vals = {p: v for (_, p, v) in rows}
    geo = trees.SpatialTreeGeometry(pgids)
    dfun = {0: lambda d: 1 / math.log(1 + d), 1: lambda d: 1 / d, 2: lambda d: 1 / d**2}[dopt]
    out = {u: v for (u, _, v) in collect_panel(trees.spatial_tree_lag(df, 1e-9, dopt))}
    for p in pgids:
        exp = 0.0
        for q in pgids:
            if q == p:
                continue
            dx = geo.elon[p] - geo.elon[q] + 0.01
            dy = geo.elat[p] - geo.elat[q] + 0.01
            exp += vals[q] * dfun(math.sqrt(dx * dx + dy * dy))
        assert out[p] == pytest.approx(exp), p


def test_spatial_interactions_cover_all_cells_once():
    # at any thetacrit the interaction boxes of a target tile the full grid
    # minus the target's own cell
    pgids = [lat * 720 + lon for lat in range(8) for lon in range(8)]
    geo = trees.SpatialTreeGeometry(pgids)
    inter = geo.interactions(0.9, 0)
    by_pgid = {}
    for (p, lvl, bx, by, _) in inter:
        by_pgid.setdefault(p, []).append((lvl, bx, by))
    for p in pgids:
        covered = []
        for (lvl, bx, by) in by_pgid[p]:
            shift = geo.power - lvl
            for q in pgids:
                if (geo.elon[q] >> shift) == bx and (geo.elat[q] >> shift) == by:
                    covered.append(q)
        assert sorted(covered) == sorted(q for q in pgids if q != p), p


# ---------------------------------------------------------------------------
# grid lag (adaptive mesh)

def test_grid_lag_threshold_huge_root_only(spark):
    # value never exceeds threshold -> mesh = {root} -> lag = w(d) * total
    pgids = [lat * 720 + lon for lat in range(4) for lon in range(4)]
    rows = [(1, p, 1.0) for p in pgids]
    df = make_panel(spark, rows)
    geo = trees.SpatialTreeGeometry(pgids)
    out = {u: v for (u, _, v) in collect_panel(trees.grid_lag(df, 1e9, 0))}
    for p in pgids:
        tx, ty = geo.elon[p] + 0.5, geo.elat[p] + 0.5
        cx = cy = geo.ncells / 2.0
        d = math.sqrt((tx - cx) ** 2 + (ty - cy) ** 2)  # no +0.01 in grid_lag
        assert out[p] == pytest.approx(16.0 / math.log(1 + d)), p


def test_grid_lag_threshold_tiny_full_split(spark):
    # every node exceeds threshold -> mesh = all leaves -> pairwise sums
    pgids = [lat * 720 + lon for lat in range(4) for lon in range(4)]
    rng = np.random.RandomState(17)
    rows = [(1, p, float(rng.randint(1, 10))) for p in pgids]
    df = make_panel(spark, rows)
    vals = {p: v for (_, p, v) in rows}
    geo = trees.SpatialTreeGeometry(pgids)
    out = {u: v for (u, _, v) in collect_panel(trees.grid_lag(df, 0.0, 1))}
    for p in pgids:
        exp = 0.0
        for q in pgids:
            if q == p:
                continue
            dx = geo.elon[p] - geo.elon[q]
            dy = geo.elat[p] - geo.elat[q]
            exp += vals[q] / math.sqrt(dx * dx + dy * dy)
        assert out[p] == pytest.approx(exp), p


def test_grid_lag_mesh_varies_with_time(spark):
    # one hot cell in month 2 only -> mesh refines around it in month 2
    pgids = [lat * 720 + lon for lat in range(4) for lon in range(4)]
    rows = [(1, p, 1.0) for p in pgids] + [
        (2, p, 100.0 if p == 721 else 1.0) for p in pgids
    ]
    df = make_panel(spark, rows)
    out = trees.grid_lag(df, 50.0, 0)
    got = {(t, u): v for (u, t, v) in collect_panel(out)}
    # month 1: total = 16 <= 50 -> root-only for every target
    geo = trees.SpatialTreeGeometry(pgids)
    p0 = pgids[0]
    tx, ty = geo.elon[p0] + 0.5, geo.elat[p0] + 0.5
    d_root = math.sqrt((tx - geo.ncells / 2) ** 2 + (ty - geo.ncells / 2) ** 2)
    assert got[(1, p0)] == pytest.approx(16.0 / math.log(1 + d_root))
    # month 2 differs from month 1 (mesh refined)
    assert got[(2, p0)] != pytest.approx(got[(1, p0)])


def test_grid_lag_multi_feature_independent_meshes(spark):
    """Two features get independent meshes (reference per-feature loop,
    spatial_tree.py:540-541): 'a' splits around its hot cell, 'b' (uniform,
    below threshold) keeps the root-only mesh."""
    pgids = [lat * 720 + lon for lat in range(4) for lon in range(4)]
    rows = [(1, p, 100.0 if p == 721 else 1.0, 1.0) for p in pgids]
    df = make_panel(spark, rows, cols=("time_id", "unit_id", "a", "b"))
    out, grids = trees.grid_lag(df, 50.0, 0, keep_grids=True)
    res = {r["unit_id"]: (r["a"], r["b"]) for r in out.collect()}
    assert len(res) == 16 and all(len(v) == 2 for v in res.values())
    mesh_sizes = {
        r["feature"]: r["n"]
        for r in grids.groupBy("feature").agg(F.count("*").alias("n")).collect()
    }
    assert mesh_sizes["b"] == 1  # root only
    assert mesh_sizes["a"] > 1  # refined around the hot cell
    # single-feature runs on each column individually must agree
    a_only = {
        u: v
        for (u, _, v) in collect_panel(
            trees.grid_lag(df.select("time_id", "unit_id", "a"), 50.0, 0)
        )
    }
    for u, (va, _) in res.items():
        assert va == pytest.approx(a_only[u]), u

def test_grid_lag_weight_dict(spark):
    """dfunctions-dict parity (reference get_grid_lag dfunctions,
    spatial_tree.py:95-96): every weight function evaluated in the same
    pair aggregate, suffixed output columns, each matching the equivalent
    single-kernel run."""
    pgids = [lat * 720 + lon for lat in range(4) for lon in range(4)]
    rng = np.random.RandomState(3)
    rows = [(1, p, float(rng.randint(1, 10))) for p in pgids]
    df = make_panel(spark, rows)
    out = trees.grid_lag(
        df, 50.0,
        dfunctions={"invlog": trees.GRID_DFUNCTIONS[0],
                    "invsq": trees.GRID_DFUNCTIONS[2]},
    )
    assert set(out.columns) == {"time_id", "unit_id", "value_invlog", "value_invsq"}
    got = {r["unit_id"]: (r["value_invlog"], r["value_invsq"]) for r in out.collect()}
    for opt, idx in ((0, 0), (2, 1)):
        single = {u: v for (u, _, v) in collect_panel(trees.grid_lag(df, 50.0, opt))}
        for u, vals in got.items():
            assert vals[idx] == pytest.approx(single[u]), (opt, u)


def test_grid_lag_column_builder_dfunction(spark):
    """Legacy Column-expression weight builders still work (r6 moved the
    canned kernels to scalar callables evaluated driver-side; a builder
    that returns a Column is detected and evaluated over the small weight
    table instead). 1/d² as a builder must equal canned kernel 2."""
    from pyspark.sql import functions as F

    pgids = [lat * 720 + lon for lat in range(3) for lon in range(3)]
    rng = np.random.RandomState(5)
    rows = [(1, p, float(rng.randint(1, 10))) for p in pgids]
    df = make_panel(spark, rows)
    out = trees.grid_lag(
        df, 50.0, dfunctions={"colsq": lambda d: 1.0 / (d * d)}
    )
    # the lambda works as BOTH scalar and Column builder — force the
    # Column route with an explicit pyspark expression
    out2 = trees.grid_lag(
        df, 50.0, dfunctions={"colsq": lambda d: F.lit(1.0) / F.pow(d, F.lit(2.0))}
    )
    canned = {u: v for (u, _, v) in collect_panel(trees.grid_lag(df, 50.0, 2))}
    for res in (out, out2):
        got = {r["unit_id"]: r["value_colsq"] for r in res.collect()}
        for u in canned:
            assert got[u] == pytest.approx(canned[u]), u


def _mesh_panel(spark):
    """Three timesteps on a 4x4 cell block; threshold 5 splits some boxes."""
    cells = [(r, c) for r in range(4) for c in range(4)]
    return make_panel(
        spark,
        [(t, r * 720 + c + 1, float(t + r + c)) for t in range(3) for r, c in cells],
    )


def test_grid_lag_gates_read_no_count(spark, monkeypatch):
    """The mesh-bound gate reads the panel's row count off its checkpoint
    job: building never calls DataFrame.count, and the rows are the same."""
    df = _mesh_panel(spark)
    expected = sorted(trees.grid_lag(df, 5.0, 0).collect())
    forbid_count(monkeypatch, df)
    assert sorted(trees.grid_lag(df, 5.0, 0).collect()) == expected


_MESH_BROADCAST_JOIN = re.compile(r"BroadcastHashJoin \[time_id#\d+L?\], \[__mt#")


def test_grid_lag_over_cap_mesh_shuffle_joins(spark, monkeypatch):
    """Over the mesh cap the mesh is pinned with its exact row count riding
    the checkpoint job (no separate count), and an over-cap count keeps the
    cells x mesh join a shuffle join. Rows and grids equal the broadcast
    path's. Spark's own size-based broadcast is off, so a broadcast in the
    plan can only come from the operator's hint."""
    df = _mesh_panel(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out, grids = trees.grid_lag(df, 5.0, 0, keep_grids=True)
        assert _MESH_BROADCAST_JOIN.search(plans.physical_plan(out))
        expected = (sorted(out.collect()), sorted(grids.collect()))
        monkeypatch.setattr(trees, "GRID_MESH_BROADCAST_CAP", 0)
        forbid_count(monkeypatch, df)
        out, grids = trees.grid_lag(df, 5.0, 0, keep_grids=True)
        assert not _MESH_BROADCAST_JOIN.search(plans.physical_plan(out))
        assert (sorted(out.collect()), sorted(grids.collect())) == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
