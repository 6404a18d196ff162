"""Column profiling / sketching (beyond-reference surface): the
data-quality pass a pipeline runs before training on a new table.

Two tiers, same output shape (one row per profiled column):

- ``profile``        exact — count / nulls / exact distinct / min / max /
                     DECIMAL-exact sum and mean. Oracle-gated.
- ``profile_approx`` sketch — HyperLogLog++ distinct (approx_count_distinct)
                     and KLL-style quantiles (percentile_approx) instead of
                     the exact distinct; the 100 TB default. One ordinary
                     hash aggregate, no Expand, bounded sketch memory per
                     column. Both sketches are engine-private, so its gate
                     surface is rows-only (KLL quantiles only since r12 —
                     everything else rides a strict tier).
- ``profile_sketch`` strict sketch — the same n/n_null/min/max plus an HLL
                     distinct estimate from md5-derived integer registers
                     (sketches.py), byte-reproducible in DuckDB.

Scale note: k exact count(DISTINCT) aggregates in one pass compile to an
Expand (k× the scan rows feed the shuffle) — fine for a handful of
columns, wasteful for wide tables; that is precisely what the sketch tier
is for. Everything else partial-aggregates map-side. Sums route through
DECIMAL(38,6) so they are order-independent and engine-exact for
fixed-decimal data (CLAUDE.md float-parity rules); mean is the decimal
sum divided by the count in double — one deterministic division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..panel import local_table

_SUM_DECIMAL = "decimal(38,6)"


def _check_percents(percents, fn_name: str) -> list[int]:
    """Validate a percents list to integers in (0, 100]. Accepts any
    numeric (or numeric-string) representation of an integer — int(p)
    alone would truncate 50.5 silently and raise a bare TypeError on
    non-numerics (ADVICE r12)."""
    out = []
    for p in percents:
        try:
            fp = float(p)
        except (TypeError, ValueError):
            raise ValueError(
                f"{fn_name}: percents must be integers in (0, 100], got {p!r}"
            ) from None
        if fp != int(fp) or not 0 < int(fp) <= 100:
            raise ValueError(
                f"{fn_name}: percents must be integers in (0, 100], got {p!r}"
            )
        out.append(int(fp))
    return out


def _stack(df_1row: DataFrame, cols: list[str], fields: list[str]) -> DataFrame:
    """Melt a 1-row aggregate with per-column field aliases `<field>_<i>`
    into one row per profiled column."""
    parts = []
    for i, c in enumerate(cols):
        parts.append(
            "'" + c.replace("'", "''") + "', " + ", ".join(f"`{f}_{i}`" for f in fields)
        )
    return df_1row.selectExpr(
        f"stack({len(cols)}, {', '.join(parts)}) as (column, {', '.join(fields)})"
    )


def profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact per-column profile: (column, n, n_null, n_distinct, min_val,
    max_val, sum_val, mean_val). Numeric columns only (min/max/sum surface
    as double; sums are DECIMAL(38,6)-exact underneath, rounded to 6dp).

    One aggregate pass over the table (count(DISTINCT) adds an Expand —
    see module docstring), then a stack() of the single aggregate row into
    |cols| output rows: nothing but the 1-row aggregate ever moves to one
    place.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for i, c in enumerate(cols):
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"nn_{i}"),
            F.countDistinct(col).alias(f"nd_{i}"),
            F.min(col).cast("double").alias(f"mn_{i}"),
            F.max(col).cast("double").alias(f"mx_{i}"),
            F.sum(col.cast(_SUM_DECIMAL)).alias(f"sd_{i}"),
        ]
    one = df.agg(*aggs)
    proj = [F.col("__n_rows")]
    for i, _ in enumerate(cols):
        sum_dbl = F.col(f"sd_{i}").cast("double")
        proj += [
            F.col("__n_rows").alias(f"n_{i}"),
            (F.col("__n_rows") - F.col(f"nn_{i}")).alias(f"n_null_{i}"),
            F.col(f"nd_{i}").alias(f"n_distinct_{i}"),
            (F.round(F.col(f"mn_{i}"), 6) + F.lit(0.0)).alias(f"min_val_{i}"),
            (F.round(F.col(f"mx_{i}"), 6) + F.lit(0.0)).alias(f"max_val_{i}"),
            (F.round(sum_dbl, 6) + F.lit(0.0)).alias(f"sum_val_{i}"),
            (
                F.round(
                    sum_dbl / F.nullif(F.col(f"nn_{i}").cast("double"), F.lit(0.0)), 6
                )
                + F.lit(0.0)
            ).alias(f"mean_val_{i}"),
        ]
    return _stack(
        one.select(*proj),
        cols,
        ["n", "n_null", "n_distinct", "min_val", "max_val", "sum_val", "mean_val"],
    )


def profile_approx(
    df: DataFrame,
    cols: list[str],
    rsd: float = 0.02,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-tier profile: (column, n, n_null, approx_distinct,
    min_val, max_val, q_25, q_50, q_75 ...). HyperLogLog++ distinct at
    relative error ``rsd`` and percentile_approx quantiles at
    ``accuracy`` — both mergeable sketches, so the whole profile is ONE
    hash aggregate with map-side partial merge and constant state per
    column; no Expand, no second pass, regardless of table width.

    Sketch results are deterministic for a fixed dataset but not
    engine-portable — covered by closeness tests against the exact tier,
    not by the DuckDB hash gate.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    qfields = [f"q_{int(q * 100)}" for q in quantiles]
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for i, c in enumerate(cols):
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"nn_{i}"),
            F.approx_count_distinct(col, rsd).alias(f"ad_{i}"),
            F.min(col).cast("double").alias(f"mn_{i}"),
            F.max(col).cast("double").alias(f"mx_{i}"),
            F.percentile_approx(
                col.cast("double"), list(quantiles), accuracy
            ).alias(f"qs_{i}"),
        ]
    one = df.agg(*aggs)
    proj = []
    for i, _ in enumerate(cols):
        proj += [
            F.col("__n_rows").alias(f"n_{i}"),
            (F.col("__n_rows") - F.col(f"nn_{i}")).alias(f"n_null_{i}"),
            F.col(f"ad_{i}").alias(f"approx_distinct_{i}"),
            F.col(f"mn_{i}").alias(f"min_val_{i}"),
            F.col(f"mx_{i}").alias(f"max_val_{i}"),
        ]
        proj += [F.col(f"qs_{i}")[j].alias(f"{qf}_{i}") for j, qf in enumerate(qfields)]
    return _stack(
        one.select(*proj),
        cols,
        ["n", "n_null", "approx_distinct", "min_val", "max_val", *qfields],
    )


def profile_sketch(
    df: DataFrame,
    cols: list[str],
    p: int = 12,
) -> DataFrame:
    """Strict-gateable sketch profile (VERDICT r11 #4): exact n / n_null /
    min / max per column plus an HLL distinct estimate built from the
    repo's OWN md5-derived integer registers (the sketches.py discipline)
    instead of Spark's engine-private approx_count_distinct — so the whole
    row is byte-reproducible in DuckDB and the only remaining rows-only
    profile surface is profile_approx's KLL quantiles.

    Plan shape: TWO scans of the (column-pruned) input — one ordinary
    exact-stats hash aggregate, and one register pass that explodes each
    row into |cols| (column, hash) entries, map-side-combines to
    |cols|·m register rows, then aggregates the harmonic sum per column.
    Both shuffles are O(|cols|·m), not O(rows). The estimate is the raw
    HyperLogLog estimator (one literal/BIGINT division — see
    sketches.hll_distinct for why the linear-counting correction is
    deliberately absent; pick p so 2.5·2^p ≲ expected distinct).

    Output: (column, n, n_null, approx_distinct, n_zero, s_scaled,
    min_val, max_val) — one row per profiled column; columns hash via
    their string cast (use integer/string columns; double string reprs
    are not engine-portable).
    """
    from . import sketches

    if not cols:
        raise ValueError("cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    if not 4 <= p <= 16:
        raise ValueError(f"profile_sketch: p must be in [4, 16], got {p}")
    m = 1 << p
    bits_w = 60 - p
    kscale = bits_w + 1

    # exact stats: one aggregate row, stacked to one row per column.
    # try_cast: a non-numeric string column (docstring-sanctioned input)
    # must yield NULL min/max, not an ANSI CAST_INVALID_INPUT throw
    # (found by the r13 wide-table sweep on l_returnflag).
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for i, c in enumerate(cols):
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"nn_{i}"),
            F.min(col).try_cast("double").alias(f"mn_{i}"),
            F.max(col).try_cast("double").alias(f"mx_{i}"),
        ]
    one = df.agg(*aggs)
    proj = []
    for i, _ in enumerate(cols):
        proj += [
            F.col("__n_rows").alias(f"n_{i}"),
            (F.col("__n_rows") - F.col(f"nn_{i}")).alias(f"n_null_{i}"),
            (F.round(F.col(f"mn_{i}"), 6) + F.lit(0.0)).alias(f"min_val_{i}"),
            (F.round(F.col(f"mx_{i}"), 6) + F.lit(0.0)).alias(f"max_val_{i}"),
        ]
    exact = _stack(one.select(*proj), cols, ["n", "n_null", "min_val", "max_val"])

    # HLL registers for every column in ONE scan: explode to (column,
    # hash) entries (NULL hashes — md5(NULL) — drop via the filter)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"), sketches._h60(c).alias("h")
            )
            for c in cols
        ]
    )
    hashed = (
        df.select(F.explode(entries).alias("__e"))
        .select(F.col("__e.column").alias("column"), F.col("__e.h").alias("__h"))
        .filter(F.col("__h").isNotNull())
    )
    w = F.expr(f"CAST(__h DIV {m} AS BIGINT)")
    rho = F.when(w == 0, F.lit(kscale)).otherwise(
        F.lit(bits_w) - F.length(F.bin(w)) + F.lit(1)
    )
    regs = (
        hashed.select(
            "column",
            (F.col("__h") % m).alias("__idx"),
            rho.cast("int").alias("__rho"),
        )
        .groupBy("column", "__idx")
        .agg(F.max("__rho").alias("__m"))
    )
    hagg = regs.groupBy("column").agg(
        F.count(F.lit(1)).alias("__nreg"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {kscale} - __m)")).alias("__sp"),
    )
    # left join so an all-NULL column still profiles (empty sketch:
    # n_zero = m, s_scaled = m·2^K — the raw estimator's alpha·m)
    joined = exact.join(F.broadcast(hagg), "column", "left")
    s_scaled = F.coalesce(
        F.col("__sp") + (F.lit(m) - F.col("__nreg")) * F.lit(1 << kscale),
        F.lit(m * (1 << kscale)),
    )
    return joined.select(
        "column",
        "n",
        "n_null",
        (
            sketches.hll_estimate_from_scaled(s_scaled, p)
        ).alias("approx_distinct"),
        F.coalesce(F.lit(m) - F.col("__nreg"), F.lit(m)).cast("int").alias("n_zero"),
        s_scaled.cast("long").alias("s_scaled"),
        "min_val",
        "max_val",
    )


def approx_quantiles_hist(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 1024,
    percents: list[int] | tuple[int, ...] = (25, 50, 75),
    group_cols: list[str] | None = None,
) -> DataFrame:
    """STRICT approximate quantiles by equi-width histogram — the
    mergeable, bounded-error middle tier between :func:`exact_quantiles`
    (exact, O(distinct-values) shuffle) and profile_approx's
    percentile_approx (KLL — engine-private, rows-only gate). The error
    bound is the bucket width w = (hi − lo) / n_buckets: the true
    quantile lies inside the returned bucket's [lo_edge, hi_edge).

    Why this is byte-strict cross-engine with FLOATS in the pipeline
    (normally forbidden by the float-parity rules): every float op is
    either (a) floor((x − lo)/w) — IEEE subtraction/division/floor of
    bit-identical inputs (x from parquet, lo and w inlined as
    shortest-repr literals both engines parse to the same double), or
    (b) edge reconstruction lo + bucket·w — literal arithmetic in the
    same order. No reductions, no transcendentals, no rounding step —
    both engines produce identical bits, so the gate compares raw
    doubles. Selection is the exact_quantiles all-integer ceil rank
    ((p·N + 99) DIV 100) over the cumulative bucket counts.

    Scale shape (the 100 TB default for continuous columns): bucket
    assignment is a pure column expression in the scan; the ONE shuffle
    carries ≤ n_buckets rows per group (map-side combine); bucket counts
    are plain sums, so partial histograms merge associatively across
    any partitioning — the Druid/ClickHouse histogram-quantile design.
    Out-of-range values clamp to the edge buckets (callers own the
    domain; a lo/hi that truly covers the column keeps the error bound).

    Output: group_cols + (percent int, bucket int, lo_edge double,
    hi_edge double, rank long, n long).
    """
    from pyspark.sql import Window

    percents = _check_percents(percents, "approx_quantiles_hist")
    lo, hi = float(lo), float(hi)
    if not lo < hi:
        raise ValueError(f"approx_quantiles_hist: need lo < hi, got [{lo}, {hi})")
    if n_buckets < 1:
        raise ValueError("approx_quantiles_hist: n_buckets must be >= 1")
    w = (hi - lo) / float(n_buckets)
    group_cols = list(group_cols or [])
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(
            F.lit(0).cast("long"),
            F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(w)),
        ),
    )
    # NaN floors to bucket 0 in Spark but errors DuckDB's BIGINT cast —
    # treat non-finite like NULL (dropped) so both engines agree on any
    # input (ADVICE r12). isnan(NULL) is false in Spark, so the NULL
    # filter still does that job.
    counts = (
        df.filter(
            F.col(col).isNotNull() & ~F.isnan(F.col(col).cast("double"))
        )
        .select(*group_cols, bucket.alias("__b"))
        .groupBy(*group_cols, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wo = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("__b")
    wg = Window.partitionBy(*[F.col(c) for c in group_cols])
    cum = counts.select(
        *group_cols,
        "__b",
        "__c",
        F.sum("__c").over(wo).alias("__cum"),
        F.sum("__c").over(wg).alias("__n"),
    )
    pcts = local_table(df.sparkSession, [(int(p),) for p in percents], "percent int")
    joined = cum.crossJoin(F.broadcast(pcts))
    rank = F.expr("CAST((percent * __n + 99) DIV 100 AS BIGINT)")
    picked = joined.filter(
        (F.col("__cum") >= rank) & (F.col("__cum") - F.col("__c") < rank)
    )
    return picked.select(
        *group_cols,
        "percent",
        F.col("__b").cast("int").alias("bucket"),
        (F.lit(lo) + F.col("__b").cast("double") * F.lit(w)).alias("lo_edge"),
        (F.lit(lo) + (F.col("__b") + F.lit(1)).cast("double") * F.lit(w)).alias(
            "hi_edge"
        ),
        rank.alias("rank"),
        F.col("__n").alias("n"),
    )


# column types range_buckets' affine bucket map accepts (decimal at any
# precision and scale)
_RANGE_DTYPES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def _exact_quantiles_range(
    df: DataFrame,
    col: str,
    percents,
    group_cols: list[str],
    n_buckets: int,
) -> DataFrame:
    """Two-pass range rank selection (see exact_quantiles docstring,
    ``range_buckets``). Pass 1: per-group (min, max, N) + a monotone
    B-bucket value histogram; the cumulative histogram (a window over ≤ B
    rows per group) locates each percent's target bucket and its local
    rank. Pass 2: rows in target buckets only (broadcast join — a
    scan-side filter), then the raw-row window selection over ~N/B rows
    per (group, percent)."""
    from pyspark.sql import Window

    if n_buckets < 1:
        raise ValueError("range_buckets must be >= 1")
    dtype = dict(df.dtypes)[col]
    if dtype.split("(")[0] not in _RANGE_DTYPES:
        raise ValueError(
            f"range_buckets needs a numeric column ({', '.join(_RANGE_DTYPES)}),"
            f" got {col!r}: {dtype}"
        )
    is_float = dtype in ("double", "float")
    base = df.filter(F.col(col).isNotNull()).select(*group_cols, col)
    v = F.col(col).cast("double")
    if is_float:
        inf = F.lit(float("inf"))
        nan, pos_inf, neg_inf = F.isnan(v), v == inf, v == -inf
    else:
        nan = pos_inf = neg_inf = F.lit(False)
    finite = ~(nan | pos_inf | neg_inf)
    # per-group stats over finite values (Spark's max treats NaN as the
    # greatest double, and an infinite edge makes every width infinite —
    # either would poison the affine map)
    stats = base.groupBy(*group_cols).agg(
        F.min(F.when(finite, v)).alias("__lo"),
        F.max(F.when(finite, v)).alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )
    gb = base.join(F.broadcast(stats), group_cols) if group_cols else (
        base.crossJoin(F.broadcast(stats))
    )
    # monotone bucket map matching the sort order -inf < finite < +inf <
    # NaN: -inf → bucket 0, +inf and NaN → top bucket; degenerate lo == hi
    # (or no finite value: lo IS NULL) → bucket 0
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    bucket = (
        F.when(nan | pos_inf, F.lit(n_buckets - 1))
        .when(neg_inf, F.lit(0))
        .when(
            F.col("__lo").isNull() | (F.col("__hi") == F.col("__lo")), F.lit(0)
        )
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor((v - F.col("__lo")) / width),
            )
        )
        .cast("int")
    )
    hist = gb.groupBy(*group_cols, bucket.alias("__b")).agg(
        F.count(F.lit(1)).alias("__bc"),
        F.max("__n").alias("__n"),
    )
    wo = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("__b")
    cum = hist.withColumn("__cum", F.sum("__bc").over(wo))
    pcts = local_table(df.sparkSession, [(int(p),) for p in percents], "percent int")
    rank = F.expr("CAST((percent * __n + 99) DIV 100 AS BIGINT)")
    targets = (
        cum.crossJoin(F.broadcast(pcts))
        .filter((F.col("__cum") >= rank) & (F.col("__cum") - F.col("__bc") < rank))
        .select(
            *group_cols,
            "__b",
            "percent",
            # local rank inside the bucket + the global rank/N carried out
            (rank - (F.col("__cum") - F.col("__bc"))).alias("__lrank"),
            rank.alias("__rank"),
            F.col("__n"),
        )
    )
    # pass 2: only rows in target buckets survive (tiny broadcast join —
    # ≤ |groups|·|percents| bucket keys); a row matches once per percent
    # that lands in its bucket
    picked_rows = (
        gb.select(*group_cols, col, bucket.alias("__b"))
        .join(F.broadcast(targets), [*group_cols, "__b"])
    )
    wsel = Window.partitionBy(*group_cols, "percent").orderBy(col)
    wval = Window.partitionBy(*group_cols, "percent", col)
    sel = picked_rows.select(
        *group_cols,
        col,
        "percent",
        "__lrank",
        "__rank",
        "__n",
        F.count(F.lit(1)).over(wval).alias("__c"),
        F.count(F.lit(1)).over(wsel.rangeBetween(Window.unboundedPreceding, 0)).alias(
            "__lcum"
        ),
    ).filter(
        (F.col("__lcum") >= F.col("__lrank"))
        & (F.col("__lcum") - F.col("__c") < F.col("__lrank"))
    )
    return sel.select(
        *group_cols,
        "percent",
        F.col(col).alias("value"),
        F.col("__rank").alias("rank"),
        F.col("__n").alias("n"),
    ).distinct()


def exact_quantiles(
    df: DataFrame,
    col: str,
    percents: list[int] | tuple[int, ...] = (25, 50, 75),
    group_cols: list[str] | None = None,
    pre_aggregate: bool = True,
    range_buckets: int | None = None,
) -> DataFrame:
    """EXACT distributed quantiles by integer rank selection — the strict
    counterpart to profile_approx's percentile_approx (whose KLL sketch
    is engine-private and can only gate rows-only).

    Semantics: type-1 / lower quantile (DuckDB's quantile_disc): the
    smallest value v whose cumulative count reaches rank_p =
    ceil(p*N/100), computed ALL-INTEGER as (p*N + 99) DIV 100 — no float
    ever enters (the returned value is an input value, byte-exact by
    construction; NULLs are excluded from N like every SQL quantile).

    Scale shape: ONE map-side-combined value-count aggregate (shuffle
    payload = distinct values per task, not rows), a cumulative window
    over that aggregate, and a literal percent table joined in. Exactness
    at 100 TB therefore costs O(distinct values) shuffle — the right tool
    for fixed-decimal / discrete columns (prices, counts, scores). For
    genuinely continuous high-cardinality columns the aggregate
    degenerates toward O(rows) and profile_approx's sketch is the
    intended tier — the same exact/approx split as the dedup and ANN
    families.

    Output: group_cols + (percent int, value <input type>, rank long,
    n long), one row per (group, percent).

    ``pre_aggregate=False`` (r13 opt) skips the value-count aggregate and
    windows DIRECTLY over the raw rows: cum(v) comes from a RANGE cum
    count (ties included by the frame), per-value count and group N from
    two more window functions over the SAME exchange+sort (subset
    partitioning — the cweq lesson), and the duplicate picked rows (one
    per input row equal to the selected value) collapse in a final tiny
    distinct. Output rows identical by construction (verified value-equal
    at sf0.1). Use it for NEAR-UNIQUE columns, where the aggregate
    reduces nothing and just pays two extra hash passes over every row
    (0.72× at sf0.1 on l_extendedprice, dedup factor 1.01); keep the
    default for genuinely discrete columns, where the aggregate is what
    keeps the shuffle at O(distinct) instead of O(rows) at 100 TB.

    ``range_buckets=B`` (r14, the 100 TB tier for NEAR-UNIQUE columns —
    VERDICT r13 #3/#5) replaces the full per-group window sort with a
    two-pass range rank selection: (1) per-group min/max/count + a
    B-bucket histogram (two map-side-combined aggregates — value buckets
    are a monotone affine map, NaN pinned to the top bucket like the sort
    order), the target bucket and the LOCAL rank inside it derived from
    the tiny cumulative histogram; (2) one more scan keeps ONLY rows in
    target buckets (a broadcast semi-join of ~|groups|·|percents| bucket
    keys) and runs the raw-row window selection on those ~n/B rows per
    group. No stage ever sorts more than ~n/B rows per group — the
    near-unique tier's straggler wall (a 3-partition sort of ALL rows at
    100 TB) is gone for two extra cheap scans. Output rows identical by
    construction at any B ≥ 1 (equal values share a bucket, bucketing is
    monotone, so global rank == local rank offset by the bucket-prefix
    count; pinned by tests against both other paths). Numeric columns
    only (the affine bucket map needs arithmetic).
    """
    from pyspark.sql import Window

    percents = _check_percents(percents, "exact_quantiles")
    group_cols = list(group_cols or [])
    if range_buckets is not None:
        return _exact_quantiles_range(
            df, col, percents, group_cols, int(range_buckets)
        )
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(col)
    wg = Window.partitionBy(*[F.col(c) for c in group_cols])
    if pre_aggregate:
        counts = (
            df.filter(F.col(col).isNotNull())
            .groupBy(*group_cols, col)
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        cum = counts.select(
            *group_cols,
            col,
            "__c",
            F.sum("__c").over(w).alias("__cum"),
            F.sum("__c").over(wg).alias("__n"),
        )
    else:
        wr = w.rangeBetween(Window.unboundedPreceding, 0)
        wv = Window.partitionBy(*group_cols, col)
        cum = (
            df.filter(F.col(col).isNotNull())
            .select(*group_cols, col)
            .select(
                *group_cols,
                col,
                F.count(F.lit(1)).over(wv).alias("__c"),
                F.count(F.lit(1)).over(wr).alias("__cum"),
                F.count(F.lit(1)).over(wg).alias("__n"),
            )
        )
    pcts = local_table(df.sparkSession, [(int(p),) for p in percents], "percent int")
    joined = cum.crossJoin(F.broadcast(pcts))
    rank = F.expr("CAST((percent * __n + 99) DIV 100 AS BIGINT)")
    picked = joined.filter(
        (F.col("__cum") >= rank) & (F.col("__cum") - F.col("__c") < rank)
    )
    out = picked.select(
        *group_cols,
        "percent",
        F.col(col).alias("value"),
        rank.alias("rank"),
        F.col("__n").alias("n"),
    )
    # raw-row path: every input row equal to the selected value passed the
    # filter — collapse the duplicates (tiny: <= percents x groups x ties)
    return out if pre_aggregate else out.distinct()
