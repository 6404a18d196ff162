"""Grid spatial lag (SURVEY.md §2.4 #33, reference splag4d.py).

The reference reshapes the panel into a lon×lat×time×feature tensor and runs
`scipy.ndimage.convolve` per slice (`splag4d.py:121-142`). Spark-first
re-expression: the kernel is a *tiny* (dx, dy, weight) relation — convolution
== broadcast-join every cell against the kernel offsets and sum weighted
neighbour values per (time, cell). Zero padding (mode='constant', cval=0.0)
falls out for free: absent neighbours simply contribute nothing to the sum.

Scale: one broadcast join (kernel ≤ a few hundred rows) + one shuffle on
(time_id, lon, lat) for the neighbour lookup + one hash aggregate. No
per-slice materialization, no driver collect; works unchanged whether the
grid holds 10k or 259k cells × any number of timesteps.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..panel import KEYS, TIME, UNIT, feature_cols, local_table, materialize

PG_STRIDE = 720  # global 0.5-degree grid stride (reference utilities.py:158)


def embed_coords(lons, lats):
    """Centre (lon, lat) cells in the smallest 2^p square covering their
    extent — the reference's canonical grid embedding (`utilities.py:145-216`):
    shift to zero, find ncells = 2^(1+floor(log2(max_range))), nudge to centre.
    Returns (embedded_lons, embedded_lats, ncells). numpy arrays in/out."""
    import numpy as np

    lons = np.asarray(lons)
    lats = np.asarray(lats)
    lons = lons - lons.min()
    lats = lats - lats.min()
    maxsize = max(int(lons.max()), int(lats.max()), 1)
    power = 1 + int(math.log2(maxsize))
    ncells = 2**power
    nudge_lon = int((ncells - lons.max()) / 2)
    nudge_lat = int((ncells - lats.max()) / 2)
    return lons + nudge_lon, lats + nudge_lat, ncells


def with_grid_coords(df: DataFrame, stride: int = PG_STRIDE) -> DataFrame:
    """Derive lon/lat from the unit key: lon = pgid % stride, lat = pgid //
    stride (reference `utilities.py:167-168`). Pure column arithmetic."""
    return df.withColumn("__lon", F.col(UNIT) % stride).withColumn(
        "__lat", (F.col(UNIT) - F.col(UNIT) % stride) / stride
    ).withColumn("__lat", F.col("__lat").cast("long"))


def kernel_offsets(
    kernel_inner: int = 1,
    kernel_width: int = 1,
    kernel_power: float = 0,
    norm_kernel: int = 0,
) -> list[tuple[int, int, float]]:
    """Kernel weights as a (dx, dy, weight) list — faithful reimplementation
    of the reference's `build_kernel_weights` (`splag4d.py:95-118`):
    square kernel of side 2*(inner+width)-1; weight 0 inside the inner box
    (|dx| < inner AND |dy| < inner), else r^-power with r = sqrt(dx²+dy²)
    (0^-0 == 1 at the centre when inner=0); optional normalization to sum 1.
    Zero-weight offsets are dropped (they cannot contribute)."""
    kernel_inner, kernel_width = int(kernel_inner), int(kernel_width)
    size = 2 * (kernel_inner + kernel_width) - 1
    centre = (size + 1) // 2 - 1
    raw: list[tuple[int, int, float]] = []
    for ix in range(size):
        dx = ix - centre
        for iy in range(size):
            dy = iy - centre
            if abs(dx) < kernel_inner and abs(dy) < kernel_inner:
                continue
            r = math.sqrt(dx * dx + dy * dy)
            w = 1.0 / (r**kernel_power) if r > 0 else (1.0 if kernel_power == 0 else float("inf"))
            raw.append((dx, dy, w))
    if norm_kernel:
        total = sum(w for _, _, w in raw)
        raw = [(dx, dy, w / total) for dx, dy, w in raw]
    return raw


def splag4d(
    df: DataFrame,
    kernel_inner: int = 1,
    kernel_width: int = 1,
    kernel_power: float = 0,
    norm_kernel: int = 0,
    stride: int = PG_STRIDE,
) -> DataFrame:
    """Grid spatial lag == annular-kernel convolution per (time, feature)
    slice (reference `get_splag4d`, `splag4d.py:9-92`).

    NaN -> 0 first (`splag4d.py:51`). For each target cell, the result is
    Σ_{(dx,dy)} w(dx,dy) · value(lon+dx, lat+dy) at the same time; cells
    outside the data contribute 0 (zero padding). The kernel is symmetric so
    scipy's convolve-flip is a no-op.

    Plan: broadcast-join cells × kernel offsets, equi-join back onto the
    grid on derived coordinates (shuffle hash join on (time, lon, lat)),
    single hash aggregate. Left join keeps isolated cells (result 0).
    """
    feats = feature_cols(df)
    spark = df.sparkSession
    # the contribution side and the target side both read the panel —
    # materialize it once instead of rebuilding it per branch
    cells = with_grid_coords(materialize(df.na.fill(0.0, subset=feats)), stride)
    kern = local_table(
        spark,
        kernel_offsets(kernel_inner, kernel_width, kernel_power, norm_kernel),
        "dx int, dy int, w double",
    )
    # neighbour source values, re-keyed by the *target* cell they contribute to
    # distinct alias names on the contribution side: both sides of the later
    # join share lineage (self-join), so identical column names would resolve
    # to the same attribute and turn the equi-join condition trivially true
    contrib = (
        cells.crossJoin(F.broadcast(kern))
        .select(
            F.col(TIME).alias("__ct"),
            (F.col("__lon") - F.col("dx")).alias("__tlon"),
            (F.col("__lat") - F.col("dy")).alias("__tlat"),
            *[(F.col(c) * F.col("w")).alias(f"__v_{c}") for c in feats],
        )
        .groupBy("__ct", "__tlon", "__tlat")
        .agg(*[F.sum(f"__v_{c}").alias(f"__v_{c}") for c in feats])
    )
    targets = cells.select(*KEYS, "__lon", "__lat")
    out = (
        targets.join(
            contrib,
            (F.col(TIME) == F.col("__ct"))
            & (F.col("__lon") == F.col("__tlon"))
            & (F.col("__lat") == F.col("__tlat")),
            "left",
        )
        .select(TIME, UNIT, *[F.col(f"__v_{c}").alias(c) for c in feats])
    )
    return out.na.fill(0.0, subset=feats)
