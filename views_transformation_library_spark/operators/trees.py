"""Hierarchical tree lags (SURVEY.md §2.4 #35, #36, #39; reference
temporal_tree.py / spatial_tree.py).

Design (SURVEY.md §4): the reference's tree walks depend only on *geometry*
(the time axis for the temporal tree, the pgid set for the spatial tree) —
never on feature values — so the interaction lists collapse to tiny static
(target, node, weight) tables computed once in driver Python. The heavy data
path stays set-based:

  * temporal tree: node values are interval sums over time, obtained from a
    single per-unit cumulative-sum window via cum(end-1) - cum(start-1) —
    one shuffle, no range join.
  * spatial tree: node values are per-level box aggregates —
    groupBy(time, x >> shift, y >> shift) per tree level (≤ p ≈ 10 levels).
  * grid lag (adaptive mesh): per-time mesh selection is a top-down
    level-by-level join over the same box aggregates; the weighted sum is a
    time-equi-join of cells × mesh (the mesh is what aggregation made small).

Hostile inputs, the same for all three lags: NaN reads as 0 (as in the
reference); a feature holding ±Inf, or a cell past the fixed-point domain
of the sums (_fixed_sum, _check_domain), raises ValueError naming the
operator and the column; an empty panel returns an empty frame with the
output schema (and an empty mesh frame for ``grid_lag(keep_grids=True)``).

Driver-side collections are limited to the distinct time axis and the
distinct unit/pgid set — both bounded (times: thousands; pgids: ≤ 259,200 on
the reference's global 0.5° grid) regardless of fact-table size.

The tree-build/walk/weight routines are fresh implementations of the
documented algorithms (Barnes-Hut opening criterion theta = size/distance
vs thetacrit; binary time tree with past/future splits), with reference
behaviors cited inline. Reference bugs NOT replicated (SURVEY.md §7):
`type(x) != 'list'` always-true check (temporal_tree.py:33) and colliding
output column names when multiple weight functions are requested.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from functools import lru_cache, reduce

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F

from ..panel import (
    KEYS, TIME, TIME_AXIS_CAP, UNIT, UNIT_AXIS_CAP, collect_axis,
    feature_cols, local_table, materialize, materialize_counted,
)
from .spatial_grid import PG_STRIDE, embed_coords

# ---------------------------------------------------------------------------
# fixed-point sums, shared by the three tree lags

# the scale of the tree lags' fixed-point sums (_fixed_sum)
GRID_SUM_SCALE = 1e10
# floor(x) of a double x at or past ±2^63 saturates to the long edge
_LONG_EDGE = 2.0**63


def _fixed_sum(term: Column, op: str, over: WindowSpec | None = None) -> Column:
    """Σ floor(term·GRID_SUM_SCALE) / GRID_SUM_SCALE: every sum of the tree
    lags (box and interval sums, weighted roll-ups) goes through here.

    Why fixed point: a double sum depends on its summation order —
    partition order, hash-aggregate order, DuckDB's segment-tree frame
    aggregates (a running double window sum diverged at sf1's 3000-step
    histories) — so its low bits differ across runs and engines, and a
    row straddling the 6dp output round fails the byte-strict oracle.
    floor(term·SCALE) is exact IEEE (multiply + floor, no rounding-mode
    ambiguity), integer adds commute and the long/SCALE division is
    correctly rounded, so the sum is bit-identical across partition
    orders, runs and engines, at codegen'd long-sum speed (a
    DECIMAL(38,18) sum was 3x slower: Spark's double->decimal cast
    string-formats per row). floor is one-sided: each term under-counts
    by < 1/SCALE, orders below the 6dp round; both engines compute the
    same floor-long sum, so that bias is defined semantics, not an error.

    Domain: a long holds |x| < 2^63, so |term| and |sum| < ~9.2e8 at
    SCALE 1e10. floor saturates past it and a long sum overflows (an ANSI
    ARITHMETIC_OVERFLOW, or a silent wrap with ANSI off); here both raise
    instead (``raise_error`` naming ``op``: a guarded floor, and try_sum's
    NULL on overflow). The operators also refuse ±Inf cells and cells past
    the bound on the driver before any sum runs (_check_domain).

    ``over`` makes it a running window sum left in scaled longs, so
    differences of it stay exact; the caller divides by GRID_SUM_SCALE."""
    guard = F.raise_error(F.lit(
        f"{op}: a term or sum leaves the fixed-point domain "
        f"|x| < 2^63 / GRID_SUM_SCALE = {_LONG_EDGE / GRID_SUM_SCALE:.6g}"
    ))
    scaled = term * F.lit(GRID_SUM_SCALE)
    total = F.try_sum(
        F.when(F.abs(scaled) < F.lit(_LONG_EDGE), F.floor(scaled)).otherwise(guard)
    )
    if over is not None:
        return F.coalesce(total.over(over), guard)
    return F.coalesce(total, guard) / F.lit(GRID_SUM_SCALE)


def _abs_max(feats: list[str]) -> list[Column]:
    """Per feature max |v|, observed on the panel pin; NaN reads as the 0 the
    operators fill it with (Spark orders NaN above every number)."""
    return [
        F.max(F.abs(F.nanvl(F.col(c), F.lit(0.0)))).alias(f"__vmax{i}")
        for i, c in enumerate(feats)
    ]


def _check_domain(op: str, feats: list[str], vmax: list, weights) -> None:
    """Refuse a feature whose cells leave the fixed-point domain of
    _fixed_sum: a ±Inf cell, or max|v| · max(1, max|w|) · GRID_SUM_SCALE
    >= 2^63 (cells are summed unweighted too: box and interval sums)."""
    wmax = max(1.0, max(map(abs, weights), default=0.0))
    for c, m in zip(feats, vmax):
        if m is not None and m * wmax * GRID_SUM_SCALE >= _LONG_EDGE:
            what = "holds ±Inf" if math.isinf(m) else f"holds |v| = {m:.6g}"
            raise ValueError(
                f"{op}: feature {c!r} {what}, outside the fixed-point domain "
                f"|v| < 2^63 / (GRID_SUM_SCALE · max(1, max|w| = {wmax:.6g})) "
                f"= {_LONG_EDGE / GRID_SUM_SCALE / wmax:.6g}"
            )


def _zeros(df: DataFrame, names: list[str]) -> DataFrame:
    """The panel's (time, unit) keys with an all-zero lag per output name."""
    return df.select(TIME, UNIT, *[F.lit(0.0).alias(n) for n in names])


def _complete(df: DataFrame, results: list[DataFrame], names: list[str]) -> DataFrame:
    """Every (time, unit) of the panel, left-joined to the lag results; a key
    with no result row (no interaction) gets 0."""
    out = df.select(TIME, UNIT)
    for res in results:
        out = out.join(res, KEYS, "left")
    return out.na.fill(0.0, subset=names)


# ---------------------------------------------------------------------------
# temporal tree geometry (reference temporal_tree.py:110-352)


@dataclass
class _TNode:
    nodeid: int
    level: int
    start: int
    end: int
    parent: int
    sibling: int | None
    predecessor: int | None
    ispast: bool
    isleaf: bool
    children: list[int] = field(default_factory=list)


class TemporalTreeGeometry:
    """Binary past/future time tree over a dense integer time axis.

    Mirrors the reference build (`temporal_tree.py:110-216`): times padded
    at the *front* to the next power of two; nodes split at the midpoint
    into a past child [start, mid) and future child [mid, end); predecessors
    found by climbing to the first future-child ancestor and descending its
    past sibling's future spine. A node with start <= tstart gets
    predecessor -1 (reference `temporal_tree.py:202`, including its quirk of
    cutting traversal at tstart rather than the padded origin).
    """

    def __init__(self, times: list[int]):
        times = sorted(times)
        self.times = times
        tstart, tend = times[0], times[-1]
        nseq_initial = tend - tstart
        if nseq_initial < 1:
            raise ValueError("temporal tree needs at least two timesteps")
        # the cum(e-1) - cum(s-1) interval trick requires a gapless time
        # axis (a missing boundary time would coalesce to 0 and corrupt the
        # difference); the reference hard-asserts completeness for tensor
        # ops too (utilities.py:26-27) — densify first
        if len(times) != nseq_initial + 1:
            raise ValueError(
                "temporal tree needs a gapless integer time axis "
                f"({nseq_initial + 1} expected between {tstart} and {tend}, "
                f"got {len(times)}); densify the panel first — run the "
                'registry step {"type": "densify", "kwargs": '
                '{"time_range": true}} before this one, or build the panel '
                "with panel.panel_from_events / panel.densify"
            )
        nseq = int(2 ** (1 + int(math.log2(nseq_initial))))
        self.npad = nseq - nseq_initial
        self.tstart, self.tend = tstart, tend
        self.nodes: list[_TNode] = []
        root = _TNode(0, 0, tstart - self.npad, tend, -1, -1, -1, False, False)
        self.nodes.append(root)
        todo = [root]
        while todo:
            sp = todo.pop()
            if sp.end - sp.start <= 1:
                continue
            # midpoint convention from temporal_tree.py:156-160
            mid = (sp.start + sp.end + 1) // 2 if sp.start >= 0 else (sp.start + sp.end) // 2
            isleaf = not (mid - sp.start > 1)
            past = _TNode(len(self.nodes), sp.level + 1, sp.start, mid, sp.nodeid, None, None, True, isleaf)
            self.nodes.append(past)
            todo.append(past)
            fut = _TNode(len(self.nodes), sp.level + 1, mid, sp.end, sp.nodeid, None, None, False, isleaf)
            self.nodes.append(fut)
            todo.append(fut)
            past.sibling = fut.nodeid
            fut.sibling = past.nodeid
            fut.predecessor = past.nodeid
            sp.children = [past.nodeid, fut.nodeid]
        # predecessor assignment (temporal_tree.py:199-216)
        for node in self.nodes:
            while node.predecessor is None:
                if node.start <= tstart:
                    node.predecessor = -1
                else:
                    climb = self.nodes[node.parent]
                    while climb.ispast:
                        climb = self.nodes[climb.parent]
                    descend = self.nodes[climb.sibling]
                    while descend.level != node.level:
                        descend = self.nodes[descend.children[1]]
                    node.predecessor = descend.nodeid
        self._leaf_by_start = {n.start: n for n in self.nodes if n.isleaf}

    def _split_node(self, node: _TNode, out: list[int], tnow: int, thetacrit: float) -> None:
        """Barnes-Hut acceptance (temporal_tree.py:327-352): open while
        theta = width/age >= thetacrit, accept leaves unconditionally."""
        check = [node]
        while check:
            n = check.pop(0)
            mid = (n.start + n.end) / 2.0
            age = tnow - mid
            theta = (n.end - n.start) / age
            if theta < thetacrit:
                out.append(n.nodeid)
            elif n.children:
                check.append(self.nodes[n.children[0]])
                check.append(self.nodes[n.children[1]])
            else:
                out.append(n.nodeid)

    def walk(self, tnow: int, thetacrit: float) -> list[int]:
        """Interaction list for tnow (temporal_tree.py:273-325). The last
        timestep has no leaf (the reference tree spans [tstart-npad, tend)),
        so its list is empty — the reference emits zeros there."""
        leaf = self._leaf_by_start.get(tnow)
        if leaf is None:
            return []
        out = [leaf.nodeid]
        if leaf.predecessor == -1:
            return out
        node = leaf
        while True:
            if node.ispast:
                if node.predecessor == -1:
                    break
                pred = self.nodes[node.predecessor]
                node = self.nodes[pred.parent]
                self._split_node(node, out, tnow, thetacrit)
            else:
                sib = self.nodes[node.sibling]
                self._split_node(sib, out, tnow, thetacrit)
                node = self.nodes[node.parent]
                if node.predecessor == -1:
                    break
                if node.sibling != node.predecessor:
                    node = self.nodes[node.predecessor]
                    self._split_node(node, out, tnow, thetacrit)
        return out

    # weight functions (temporal_tree.py:361-408); note which "mid" each uses
    def weight(self, fn: str, nodeid: int, tnow: int, sigma: float) -> float:
        n = self.nodes[nodeid]
        mid = (n.start + n.end) / 2.0
        if fn == "uniform":
            return 1.0
        if fn == "oneovert":
            return 1.0 / (tnow - mid + 1.5)
        if fn == "sigmoid":  # uses node.start as "mid" (temporal_tree.py:380)
            s5 = sigma / 5.0
            lag = (n.start - tnow + 5.0 * s5) / s5
            return 1.0 / (1.0 + math.exp(-lag))
        if fn == "expon":  # 8w1+6w-w2 blend (temporal_tree.py:384-398)
            w = math.exp(-(tnow - mid) / sigma)
            w1 = math.exp(-(tnow - n.start) / sigma)
            w2 = math.exp(-(tnow - n.end) / sigma)
            return (8.0 * w1 + 6.0 * w - w2) / 13.0
        if fn == "ramp":
            lag = tnow - mid + 0.5
            return max(1.0 - lag / sigma, 0.0)
        raise ValueError(f"unknown weight function {fn!r}; allowed expon, oneovert, ramp, sigmoid, uniform")

    def interactions(
        self, thetacrit: float, weight_functions: list[str], sigma: float
    ) -> list[tuple[int, int, int, str, float]]:
        """(tnow, node_start, node_end, weight_fn, weight) rows for every
        timestep — the complete static interaction table, O(T log T) rows."""
        rows = []
        for tnow in self.times:
            for nodeid in self.walk(tnow, thetacrit):
                n = self.nodes[nodeid]
                for fn in weight_functions:
                    rows.append((tnow, n.start, n.end, fn, self.weight(fn, nodeid, tnow, sigma)))
        return rows


def temporal_tree_lag(
    df: DataFrame,
    thetacrit: float,
    weight_functions: str | list[str] = "uniform",
    sigma: float = 1.0,
) -> DataFrame:
    """Temporal tree lag (reference `get_tree_lag`, temporal_tree.py:6-44).

    NaN -> 0 first (temporal_tree.py:30). Output columns: `<feat>` for a
    single weight function, `<feat>_<fn>` for several (the reference reuses
    input names for a wider matrix — a collision bug we do not replicate).

    Plan: one cumulative-sum window per unit; node interval sums via ONE
    broadcast join of the signed boundary table (t, s, e, ±1) against the
    cum frame — sum(sign·cum) per (unit, node) == cum(end-1) - cum(start-1)
    — then the weighted roll-up via the broadcast interaction table. Two
    broadcast joins + two hash aggregates; the only wide exchanges are the
    unit_id window shuffle (whose partitioning the first aggregate reuses)
    and the (tnow, unit) roll-up.
    """
    if isinstance(weight_functions, str):
        weight_functions = [weight_functions]
    op = "temporal_tree_lag"
    feats = feature_cols(df)
    out_names = [c if len(weight_functions) == 1 else f"{c}_{fn}"
                 for c in feats for fn in weight_functions]
    spark = df.sparkSession
    # three plan branches reference the panel (times collect, cum window,
    # grid) — materialize it once
    df, n, *vmax = materialize_counted(df, *_abs_max(feats))
    if n == 0:
        return _zeros(df, out_names)
    times = collect_axis(df, TIME, TIME_AXIS_CAP, "time axis")
    inter = _temporal_interactions_cached(times, thetacrit, tuple(weight_functions), sigma)
    _check_domain(op, feats, vmax, (r[-1] for r in inter))
    inter_df = local_table(spark, inter, "tnow long, s long, e long, fn string, w double")
    nodes = sorted({(s, e) for (_, s, e, _, _) in inter})
    # signed boundary table (r14): node interval sum cum(e-1) - cum(s-1)
    # as ONE broadcast join from the cum frame instead of a units×nodes
    # cross join with two SortMergeJoin lookups (which also ran the cum
    # window TWICE — Catalyst does not share the duplicated subplan).
    # Each node contributes (t = e-1, +1) and (t = s-1, -1); a boundary
    # before the data start simply matches no cum row, contributing the
    # exact 0 the old left-join coalesce supplied. Every (tnow, unit)
    # output group survives via its leaf node (e-1 = tnow is always in
    # range), so the row set is unchanged; the long arithmetic
    # sum(sign·cum) == cum(e-1) - cum(s-1) is exact integer math —
    # byte-identical output.
    bnd = [(e - 1, s, e, 1) for (s, e) in nodes] + [(s - 1, s, e, -1) for (s, e) in nodes]
    bnd_df = local_table(spark, bnd, "t long, s long, e long, sgn long")

    filled = df.na.fill(0.0, subset=feats)
    w_cum = Window.partitionBy(UNIT).orderBy(TIME).rowsBetween(Window.unboundedPreceding, 0)
    cum = filled.select(
        TIME, UNIT, *[_fixed_sum(F.col(c), op, over=w_cum).alias(f"__cum_{c}") for c in feats]
    )
    # node interval sums: one broadcast probe of the signed boundary table
    # (sum of ≤2 signed longs per (unit, node) == cum(e-1) - cum(s-1));
    # the groupBy keys extend the window's unit_id partitioning, so the
    # aggregate reuses the window exchange (subset partitioning — no new
    # shuffle)
    node_sums = (
        cum.join(F.broadcast(bnd_df), F.col(TIME) == F.col("t"))
        .groupBy(UNIT, "s", "e")
        .agg(*[
            (F.sum(F.col(f"__cum_{c}") * F.col("sgn")) / F.lit(GRID_SUM_SCALE)).alias(c)
            for c in feats
        ])
    )
    joined = node_sums.join(F.broadcast(inter_df), ["s", "e"])
    terms = [F.when(F.col("fn") == fn, F.col(c) * F.col("w")).otherwise(0.0)
             for c in feats for fn in weight_functions]
    res = joined.groupBy(F.col("tnow").alias(TIME), F.col(UNIT)).agg(
        *[_fixed_sum(t, op).alias(name) for t, name in zip(terms, out_names)]
    )
    # the last timestep (and any empty walk) has no result row: zeros
    return _complete(df, [res], out_names)


# ---------------------------------------------------------------------------
# spatial tree geometry (reference spatial_tree.py:160-476)


# the reference's canned distance kernels (`get_dfunctions`,
# spatial_tree.py:48-79) as scalar callables (float distance -> float
# weight), the form of the reference's ``dfunctions`` dict; keyed by
# ``dfunction_option``
GRID_DFUNCTIONS = {
    0: lambda d: 1.0 / math.log(1.0 + d),
    1: lambda d: 1.0 / d,
    2: lambda d: 1.0 / (d * d),
}


def _kernel(option):
    if option not in GRID_DFUNCTIONS:
        raise ValueError(f"unknown dfunction option {option!r}; allowed {sorted(GRID_DFUNCTIONS)}")
    return GRID_DFUNCTIONS[option]


class SpatialTreeGeometry:
    """Quadtree over the embedded pgid grid; only boxes containing data
    pgids exist (reference build_tree, spatial_tree.py:183-294). A node at
    level l is the aligned box of side ncells/2^l holding its pgids."""

    def __init__(self, pgids: list[int], stride: int = PG_STRIDE):
        import numpy as np

        pgids = sorted(pgids)
        self.pgids = pgids
        arr = np.array(pgids)
        elon, elat, ncells = embed_coords(arr % stride, arr // stride)
        self.ncells = ncells
        self.power = int(math.log2(ncells))
        self.elon = {p: int(x) for p, x in zip(pgids, elon)}
        self.elat = {p: int(y) for p, y in zip(pgids, elat)}
        # embedding offsets for deriving embedded coords in column arithmetic
        lons, lats = arr % stride, arr // stride
        self.lon_shift = int(elon[0] - lons[0])
        self.lat_shift = int(elat[0] - lats[0])
        # nodes keyed (level, bx, by); leaves at level == power
        self.boxes: dict[tuple[int, int, int], int] = {}  # -> nleaf
        for p in pgids:
            x, y = self.elon[p], self.elat[p]
            for lvl in range(self.power, -1, -1):
                shift = self.power - lvl
                key = (lvl, x >> shift, y >> shift)
                self.boxes[key] = self.boxes.get(key, 0) + 1

    def _centre(self, key: tuple[int, int, int]) -> tuple[float, float]:
        lvl, bx, by = key
        size = self.ncells >> lvl  # ncells / 2^level
        return (bx * size + size / 2.0, by * size + size / 2.0)

    def _children(self, key: tuple[int, int, int]) -> list[tuple[int, int, int]]:
        lvl, bx, by = key
        out = []
        for cx in (2 * bx, 2 * bx + 1):
            for cy in (2 * by, 2 * by + 1):
                k = (lvl + 1, cx, cy)
                if k in self.boxes:
                    out.append(k)
        return out

    def interactions(
        self, thetacrit: float, dfunction_option: int
    ) -> list[tuple[int, int, int, int, float]]:
        """(pgid, level, bx, by, weight) rows — the Barnes-Hut interaction
        table (reference walk, spatial_tree.py:296-372): open a node while
        theta = size/d > thetacrit; d uses the reference's componentwise
        +0.01 nudge before the norm (spatial_tree.py:327-328); the target's
        own leaf is excluded."""
        dfun = _kernel(dfunction_option)
        rows = []
        for p in self.pgids:
            tx, ty = self.elon[p] + 0.5, self.elat[p] + 0.5
            target_key = (self.power, self.elon[p], self.elat[p])
            todo = [(0, 0, 0)]
            while todo:
                key = todo.pop(0)
                cx, cy = self._centre(key)
                dx, dy = tx - cx + 0.01, ty - cy + 0.01
                d = math.sqrt(dx * dx + dy * dy)
                h = self.ncells >> key[0]
                if h / d > thetacrit:
                    if key[0] == self.power:  # leaf: cannot split
                        if key != target_key:
                            rows.append((p, *key, dfun(d)))
                    else:
                        todo.extend(self._children(key))
                else:
                    rows.append((p, *key, dfun(d)))
        return rows


# geometry and walks are pure functions of the key axes + parameters —
# memoize them so repeated transforms over the same grid (the reference's
# dominant usage: one panel, many features/parameter combos) skip the
# driver-side tree build. Small maxsize bounds the held interaction lists
# (only large at the full 259k-cell grid).
@lru_cache(maxsize=8)
def _spatial_geometry_cached(pgids: tuple, stride: int) -> "SpatialTreeGeometry":
    return SpatialTreeGeometry(list(pgids), stride)


@lru_cache(maxsize=16)
def _spatial_interactions_cached(
    pgids: tuple, stride: int, thetacrit: float, dfunction_option: int
):
    return _spatial_geometry_cached(pgids, stride).interactions(
        thetacrit, dfunction_option
    )


@lru_cache(maxsize=8)
def _temporal_geometry_cached(times: tuple) -> "TemporalTreeGeometry":
    return TemporalTreeGeometry(list(times))


@lru_cache(maxsize=16)
def _temporal_interactions_cached(
    times: tuple, thetacrit: float, weight_functions: tuple, sigma: float
):
    return _temporal_geometry_cached(times).interactions(
        thetacrit, list(weight_functions), sigma
    )


def _level_aggregates(
    cells: DataFrame, feats: list[str], levels: list[int], power: int, op: str
) -> DataFrame:
    """Per-level box aggregates in ONE shuffle: level l value = sum over
    pgids in the aligned box (== the reference's stocked node sums,
    spatial_tree.py:374-419).

    Each cell explodes into its |levels| (level, box) keys — the level-l
    box id is just the cell coordinate right-shifted by (power - l) — and a
    single groupBy(time, lvl, bx, by) sums every level side by side. This
    replaced r1's hierarchical level-on-level rollup: that chain needed a
    localCheckpoint per level (Catalyst re-executes chained aggregates per
    union branch otherwise), and the (power+1) sequential blocking jobs
    cost ~2.9 s of grid_lag's 3.5 s at sf0.1 — versus one shuffle of
    |cells| × |levels| rows here (the driver-side job overhead, not the
    shuffled volume, was the bottleneck). Summing each box directly from
    its leaf cells also mirrors the DuckDB oracle's per-level aggregates
    exactly. The result is small (Σ_l boxes_l ≈ 4/3 |cells|) and callers
    checkpoint it once."""
    lvl_arr = F.array(*[F.lit(int(l)) for l in sorted(levels)])
    exploded = cells.select(
        TIME, "__ex", "__ey", *feats, F.explode(lvl_arr).alias("__lvl")
    )
    return (
        exploded.groupBy(
            TIME,
            "__lvl",
            F.expr(f"shiftright(__ex, {power} - __lvl)").alias("__bx"),
            F.expr(f"shiftright(__ey, {power} - __lvl)").alias("__by"),
        )
        .agg(*[_fixed_sum(F.col(c), op).alias(c) for c in feats])
    )


def _embedded_cells(df: DataFrame, geo: SpatialTreeGeometry, stride: int, feats: list[str]) -> DataFrame:
    return df.na.fill(0.0, subset=feats).select(
        TIME,
        UNIT,
        (F.col(UNIT) % stride + geo.lon_shift).cast("long").alias("__ex"),
        (F.floor(F.col(UNIT) / stride) + geo.lat_shift).cast("long").alias("__ey"),
        *feats,
    )


def spatial_tree_lag(
    df: DataFrame,
    thetacrit: float,
    dfunction_option: int = 0,
    stride: int = PG_STRIDE,
) -> DataFrame:
    """Barnes-Hut spatial tree lag (reference `get_tree_lag`,
    spatial_tree.py:6-45). NaN -> 0 first.

    Plan: static interaction table (geometry only, reusable across all
    times/features) broadcast-joined to per-level box aggregates; one final
    hash aggregate per (time, pgid). No per-time Python, no quadtree on the
    data path. Both aggregates are fixed-point sums (_fixed_sum), so the
    lag is bit-identical across partition orders, runs and engines."""
    op = "spatial_tree_lag"
    feats = feature_cols(df)
    spark = df.sparkSession
    # three plan branches reference the panel (pgid collect, box aggregates,
    # output grid) — materialize it once
    df, n, *vmax = materialize_counted(df, *_abs_max(feats))
    if n == 0:
        return _zeros(df, feats)
    pgids = collect_axis(df, UNIT, UNIT_AXIS_CAP, "unit (grid) axis")
    geo = _spatial_geometry_cached(pgids, stride)
    inter = _spatial_interactions_cached(pgids, stride, thetacrit, dfunction_option)
    _check_domain(op, feats, vmax, (r[-1] for r in inter))
    if not inter:
        # no interactions at all (e.g. single-unit panel: the only leaf is
        # the excluded self) -> all-zero lag
        return _zeros(df, feats)
    inter_df = local_table(spark, inter, "pgid long, lvl int, bx long, by long, w double")
    levels = sorted({lvl for (_, lvl, _, _, _) in inter})
    cells = _embedded_cells(df, geo, stride, feats)
    nodevals = _level_aggregates(cells, feats, levels, geo.power, op)
    joined = nodevals.join(
        F.broadcast(inter_df),
        (F.col("__lvl") == F.col("lvl")) & (F.col("__bx") == F.col("bx")) & (F.col("__by") == F.col("by")),
    )
    res = joined.groupBy(TIME, F.col("pgid").alias(UNIT)).agg(
        *[_fixed_sum(F.col(c) * F.col("w"), op).alias(c) for c in feats]
    )
    return _complete(df, [res], feats)


def _grid_mesh(nodevals: DataFrame, c: str, threshold: float, geo: SpatialTreeGeometry) -> DataFrame:
    """The adaptive mesh for one feature, materialized.

    Mesh membership, set-based in one pass instead of a 2-joins-per-level
    top-down chain: a box is in the mesh iff it is acceptable
    (val <= threshold, or it is a leaf) AND no strict ancestor is
    acceptable (every ancestor split, i.e. had val > threshold). Each box
    explodes into its <= power ancestor references (ancestor box id is
    just a right-shift of its own id) and anti-joins against the
    acceptable boxes — every ancestor box exists in nodevals because the
    levels are rollups of the same cells. shiftright needs a literal
    shift amount, hence expr() for the per-row shift (__lvl - __alvl).
    """
    vals = nodevals.select(TIME, "__lvl", "__bx", "__by", F.col(c).alias("__val"))
    candidates = vals.filter(
        (F.col("__val") <= threshold) | (F.col("__lvl") == geo.power)
    )
    anc_refs = (
        candidates.filter(F.col("__lvl") >= 1)
        .select(
            TIME, "__lvl", "__bx", "__by",
            F.explode(F.sequence(F.lit(0), F.col("__lvl") - 1)).alias("__alvl"),
        )
        .select(
            TIME, "__lvl", "__bx", "__by", "__alvl",
            F.expr("shiftright(__bx, __lvl - __alvl)").alias("__abx"),
            F.expr("shiftright(__by, __lvl - __alvl)").alias("__aby"),
        )
    )
    blocked = anc_refs.join(
        candidates.select(
            F.col(TIME).alias("__at"),
            F.col("__lvl").alias("__alvl2"),
            F.col("__bx").alias("__abx2"),
            F.col("__by").alias("__aby2"),
        ),
        (F.col(TIME) == F.col("__at"))
        & (F.col("__alvl") == F.col("__alvl2"))
        & (F.col("__abx") == F.col("__abx2"))
        & (F.col("__aby") == F.col("__aby2")),
        "left_semi",
    ).select(TIME, "__lvl", "__bx", "__by")
    mesh = candidates.join(blocked, [TIME, "__lvl", "__bx", "__by"], "left_anti")
    size = F.expr(f"cast(shiftright({geo.ncells}, __lvl) as double)")
    return mesh.select(
        F.col(TIME).alias("__mt"),
        "__lvl",
        "__bx",
        "__by",
        "__val",
        (F.col("__bx") * size + size / 2).alias("__cx"),
        (F.col("__by") * size + size / 2).alias("__cy"),
    )


@lru_cache(maxsize=8)
def _grid_weight_keys(ncells: int) -> tuple[int, ...]:
    """Every possible squared-distance key k = (2dx)² + (2dy)² between a
    cell centre (ex+0.5, ey+0.5) and a box centre of any level, from pure
    geometry. dx is always a half-integer, so k is an exact integer and
    d = sqrt(k)/2 reproduces sqrt(dx²+dy²) bit-for-bit (dividing by a
    power of two commutes with IEEE rounding). Size is geometry-bounded:
    |keys| <= ~8·ncells², independent of data volume."""
    import numpy as np

    power = int(math.log2(ncells))
    ks: set[int] = set()
    for lvl in range(power + 1):
        size = ncells >> lvl
        # mx = 2ex + 1 - size(2bx + 1): ex ∈ [0, ncells), bx ∈ [0, ncells/size)
        # → ex - size·bx covers [size - ncells, ncells - 1] contiguously
        t = np.arange(size - ncells, ncells, dtype=np.int64)
        mx = 2 * t + 1 - size
        sq = mx * mx
        ks.update(np.unique(np.add.outer(sq, sq).ravel()).tolist())
    ks.discard(0)  # d = 0 is only the excluded own-leaf pairing
    return tuple(sorted(int(k) for k in ks))


def grid_weight_rows(ncells: int, weights: dict) -> list[tuple]:
    """The k→weight table: one row (k, w_1, ..., w_m) per squared-distance
    key of the geometry, one weight per ``weights`` entry in order.

    Each weight is a scalar callable (float distance → float weight, the
    form of GRID_DFUNCTIONS and of the reference's ``dfunctions``), run
    here once per distinct distance so both engines read the same literal
    doubles. A weight that returns anything but a finite number (a pyspark
    Column, say) raises ``ValueError`` naming it."""
    keys = _grid_weight_keys(ncells)
    dists = [math.sqrt(k) / 2.0 for k in keys]
    columns = []
    for wname, wfn in weights.items():
        try:
            column = [float(wfn(d)) for d in dists]
            if not all(map(math.isfinite, column)):
                raise ValueError("it returned a non-finite weight")
        except (TypeError, ValueError) as exc:
            raise ValueError(
                f"grid_lag: weight {wname!r} is not a scalar callable from a float "
                f"distance to a finite float weight ({exc})"
            ) from exc
        columns.append(column)
    return list(zip(keys, *columns))


# grid_lag broadcasts each per-feature mesh when its (upper-bounded or
# exact) row count is at or below this; past it the cells-x-mesh join is a
# sort-merge join, hinted so Spark's own size estimate of the pinned mesh
# cannot broadcast it either. Module-level so the over-cap bench/test can force the
# non-broadcast path on small data (tools/bench_overcap.py).
#
# The mesh row count scales LINEARLY with the panel (one mesh per
# timestep; sf0.1 23k rows -> sf1 231k, measured), so a large cap only
# defers the crossover: at sf1 an interleaved A/B showed the shuffle
# join strictly winning (6.0 s vs 8.7 s min-of-3) — the time_id join key
# is high-cardinality and uniform, so the exchange parallelizes
# perfectly while the broadcast pays driver collect + per-feature
# rebroadcast of a growing table. 100k keeps the broadcast for the
# small-panel regime it was built for (sf0.1 bound 60k, where driver job
# latency dominates) and flips everything larger to the shuffle that
# wins from sf1 upward.
GRID_MESH_BROADCAST_CAP = 100_000


def grid_lag(
    df: DataFrame,
    threshold: float,
    dfunction_option: int = 0,
    split_criterion: str = "min",
    stride: int = PG_STRIDE,
    keep_grids: bool = False,
    dfunctions: dict | None = None,
):
    """Adaptive-mesh lag (reference `get_grid_lag`, spatial_tree.py:82-115,
    478-591), one mesh per feature per timestep as in the reference's
    per-feature loop (`spatial_tree.py:540-541`).

    Mesh per (timestep, feature): starting at the root, nodes with value >
    threshold split recursively; a node is in the mesh iff every strict
    ancestor exceeded the threshold and it does not (or it is a leaf). The
    weighted sum is then a time-equi-join of cells x mesh (d WITHOUT the
    +0.01 nudge — the reference uses the plain distance here,
    spatial_tree.py:565) excluding the target's own leaf, one hash
    aggregate per feature.

    ``keep_grids=True`` additionally returns the mesh membership frame
    (feature, time_id, __lvl, __bx, __by) — the set-based equivalent of the
    reference's per-(time, feature) nodeid lists (`spatial_tree.py:492,545`).

    ``dfunctions`` mirrors the reference's arbitrary weight-function dict
    (`get_grid_lag`'s ``dfunctions``, spatial_tree.py:95-96): a mapping of
    name → scalar callable (float distance → finite float weight, the
    reference's form; the canned kernels are ``GRID_DFUNCTIONS``). A weight
    that returns anything else raises ``ValueError`` naming it. All weights for a
    feature are computed in the SAME pair aggregate — extra weight
    functions add agg expressions, not shuffles. Output columns are
    ``{feature}_{name}`` (the reference's own multi-weight path is broken:
    ``spatial_tree.py:577-586`` builds a dim2×nweight-wide array but
    labels it with the original dim2 column names, so the DataFrame
    constructor raises — suffixing follows the same documented policy as
    tlags3d). When ``dfunctions`` is None, ``dfunction_option`` selects a
    single canned kernel and column names are unchanged.

    Documented divergence: empty boxes are never mesh members (they hold
    value 0, so with the usual threshold >= 0 the reference excludes them
    too via its nleaf>0 check; a negative threshold would diverge).

    Determinism (r6): the output is bit-identical across partition
    orders, run repeats, and engines. The box sums and the weighted pair
    sums are fixed-point sums (_fixed_sum), and the distance weights are
    evaluated ONCE per distinct distance in the driver over the finite
    geometry key set (k = (2dx)²+(2dy)² is an exact integer) and
    broadcast — no engine transcendental (libm ln differs in the last ulp
    across engines) ever touches the pair path. Weight-table size is
    ~8·ncells² rows — geometry-bounded, data-independent.
    """
    if split_criterion != "min":
        raise ValueError(f"unknown split criterion {split_criterion!r}; allowed: 'min'")
    op = "grid_lag"
    feats = feature_cols(df)
    weights = (
        dict(dfunctions) if dfunctions is not None else {None: _kernel(dfunction_option)}
    )
    names = {c: [c if w is None else f"{c}_{w}" for w in weights] for c in feats}
    out_names = [name for c in feats for name in names[c]]
    # four plan branches reference the panel (pgid collect, box aggregates,
    # targets, output grid) — materialize it once; the mesh-bound row count
    # and the domain check's max |v| ride the checkpoint job
    df, n_cells, *vmax = materialize_counted(df, *_abs_max(feats))
    if n_cells == 0:
        out = _zeros(df, out_names)
        grids = df.select(
            F.lit("").alias("feature"), TIME, F.lit(0).alias("__lvl"),
            *[F.lit(0).cast("long").alias(k) for k in ("__bx", "__by")],
        )
        return (out, grids) if keep_grids else out
    spark = df.sparkSession
    pgids = collect_axis(df, UNIT, UNIT_AXIS_CAP, "unit (grid) axis")
    geo = _spatial_geometry_cached(pgids, stride)
    # the k→weight table (see Determinism above); its broadcast-hash probe
    # also replaces a per-pair ln/sqrt
    wrows = grid_weight_rows(geo.ncells, weights)
    _check_domain(op, feats, vmax, (w for r in wrows for w in r[1:]))
    wschema = "__k long" + "".join(f", __w_{i} double" for i in range(len(weights)))
    wtab = F.broadcast(local_table(spark, wrows, wschema))
    cells = _embedded_cells(df, geo, stride, feats)
    all_levels = list(range(geo.power + 1))
    # one materialization of all box aggregates (rows ~= 4/3 * |cells| across
    # all levels, every feature summed side by side); every mesh build then
    # reads it for free
    nodevals = materialize(_level_aggregates(cells, feats, all_levels, geo.power, op))
    targets = cells.select(TIME, UNIT, "__ex", "__ey")
    results = []
    mesh_frames = []
    # Broadcast gate without running the mesh: Σ_t |mesh_t| <= Σ_l |boxes_l|
    # ~= 4/3 |cells|, and |cells| rides the panel pin. When that upper
    # bound already fits, skip the per-feature
    # checkpoint+count jobs entirely (they were ~2/3 of the sf0.1 runtime —
    # driver job latency, not data). Only an inconclusive bound pays for an
    # exact count (riding the mesh's checkpoint job), and otherwise only the
    # multi-branch keep_grids path pays for a checkpoint.
    mesh_bound = (4 * n_cells) // 3 + 1
    for c in feats:
        mesh = _grid_mesh(nodevals, c, threshold, geo)
        broadcast_mesh = mesh_bound <= GRID_MESH_BROADCAST_CAP
        if not broadcast_mesh:
            mesh, n_mesh = materialize_counted(mesh)
            broadcast_mesh = n_mesh <= GRID_MESH_BROADCAST_CAP
        elif keep_grids:
            # referenced from >1 branch: pin it
            mesh = materialize(mesh)
        if keep_grids:
            mesh_frames.append(mesh.select(
                F.lit(c).alias("feature"), F.col("__mt").alias(TIME), "__lvl", "__bx", "__by"
            ))
        # the mesh is what the adaptive coarsening made small — broadcast it
        # so the cells side never shuffles; past the cap, a sort-merge join
        # (the hint keeps Spark from broadcasting the pinned mesh itself)
        mesh_side = F.broadcast(mesh) if broadcast_mesh else mesh.hint("merge")
        pairs = targets.join(mesh_side, F.col(TIME) == F.col("__mt")).filter(
            ~(
                (F.col("__lvl") == geo.power)
                & (F.col("__bx") == F.col("__ex"))
                & (F.col("__by") == F.col("__ey"))
            )
        )
        # exact integer distance key: dx, dy are half-integers, so
        # mx = 2dx, my = 2dy and k = mx²+my² are computed EXACTLY in
        # double arithmetic (identical on any IEEE engine)
        mx = F.col("__ex") * F.lit(2.0) + F.lit(1.0) - F.col("__cx") * F.lit(2.0)
        my = F.col("__ey") * F.lit(2.0) + F.lit(1.0) - F.col("__cy") * F.lit(2.0)
        pairs = pairs.withColumn("__k", (mx * mx + my * my).cast("long")).join(
            wtab, "__k"
        )
        results.append(pairs.groupBy(TIME, UNIT).agg(*[
            _fixed_sum(F.col("__val") * F.col(f"__w_{i}"), op).alias(name)
            for i, name in enumerate(names[c])
        ]))
    out = _complete(df, results, out_names)
    return (out, reduce(DataFrame.unionByName, mesh_frames)) if keep_grids else out
