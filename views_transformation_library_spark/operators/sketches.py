"""Mergeable sketch operators (beyond-reference surface): HyperLogLog
distinct counting, KMV (k-minimum-values) distinct estimation, Count-Min
frequency estimation, and Bloom-filter join pre-filtering.

Why sketches are first-class at 100 TB: a sketch is a tiny, MERGEABLE
summary — per-partition partial sketches combine associatively, so the
wide shuffle moves kilobytes instead of the column. Spark's built-ins
(approx_count_distinct, Bloom pushdown in AQE) cover some of this, but
their hash functions are engine-private; these operators build the same
sketches from md5-derived integers so a DuckDB oracle can reproduce every
register byte-for-byte (the dedup.py minhash discipline, dedup.py:286).

Engine-parity discipline (CLAUDE.md float rules):
  * All sketch state is INTEGER (registers, scaled power-of-two sums,
    counters, bit positions) — no float enters until the final estimate.
  * The one float step per estimator is a single literal-times-division
    from a BIGINT: both engines cast BIGINT -> DOUBLE with IEEE
    round-to-nearest and divide identically, then round(6) + 0.0.
  * 2^(k - M) sums use integer shifts (shiftleft / DuckDB <<), never
    pow() — terms are exact and integer addition commutes.

Reference: the reference library has no sketch surface; these implement
the standard published algorithms (Flajolet et al. 2007 HyperLogLog;
Bar-Yossef et al. 2002 KMV; Cormode & Muthukrishnan 2005 Count-Min;
Bloom 1970) Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..panel import local_table

HASH_HEX = 15  # 60-bit hashes: 15 hex chars < 2^63, uniform, engine-parity
HASH_SPACE = 1 << 60

# Bloom build-side position tables broadcast only while provably small
# (driver-side upper bound: the distinct-position table has <= n_bits
# rows by construction — never a Catalyst estimate).
BLOOM_BROADCAST_MAX_BITS = 1 << 22


def _h60(col, salt: str | None = None):
    """60-bit integer hash of a (string-cast) column via md5 — identical
    in any engine with md5 + hex parsing (DuckDB:
    CAST('0x'||substr(md5(x),1,15) AS BIGINT)). Optional salt prefixes
    the payload so independent hash functions h_j are cheap."""
    s = F.col(col).cast("string") if isinstance(col, str) else col.cast("string")
    if salt is not None:
        s = F.concat(F.lit(f"{salt}:"), s)
    return F.conv(F.substring(F.md5(s), 1, HASH_HEX), 16, 10).cast("long")


def hll_alpha(m: int) -> float:
    """Standard HyperLogLog bias constant (Flajolet et al. 2007, Fig. 3)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_estimate_from_scaled(s_scaled, p: int):
    """Column expression: raw HLL estimate from the integer scaled sum
    (alpha_m * m^2 * 2^K / S, one literal/BIGINT division, round 6 +0.0).
    Shared by hll_distinct and batch post-processing of
    streaming.sketches.hll_distinct_stream output."""
    m = 1 << p
    kscale = 61 - p
    numer = hll_alpha(m) * m * m * float(1 << kscale)
    col = F.col(s_scaled) if isinstance(s_scaled, str) else s_scaled
    return F.round(F.lit(numer) / col.cast("double"), 6) + F.lit(0.0)


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
    estimate_col: str = "estimate",
) -> DataFrame:
    """HyperLogLog distinct-count sketch per group.

    Register index = low p bits of a 60-bit md5 hash; rank rho = leading
    zeros of the high (60-p) bits + 1, computed INTEGER-exactly as
    (60-p) - length(bin(w)) + 1 (bin() is unpadded in both Spark and
    DuckDB; w = 0 => rho = 61-p). Registers are max(rho) — idempotent
    and mergeable, so no pre-distinct pass is needed and the map-side
    partial aggregation already shrinks each partition to <= m rows per
    group before the single shuffle.

    The harmonic sum is kept integer: S = sum over all m registers of
    2^(K - M[j]) with K = 61-p (empty registers contribute 2^K), a long
    <= m * 2^K < 2^63. The raw estimate alpha_m * m^2 * 2^K / S is ONE
    literal/BIGINT division (IEEE-identical cross-engine; shared helper
    :func:`hll_estimate_from_scaled`). The textbook small-range
    linear-counting correction (m * ln(m / V)) is deliberately NOT in
    the output: ln is libm and diverges cross-engine in the last ulp
    (CLAUDE.md grid_lag lesson) — callers that want it can derive it
    from the emitted n_zero; the raw estimator keeps the gate surface
    float-division-only.

    Output: group_cols + (n_zero int, s_scaled long, estimate double).
    At 100 TB: one shuffle of <= m rows per group; everything else is
    map-side.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"hll_distinct: p must be in [4, 16], got {p}")
    group_cols = list(group_cols or [])
    m = 1 << p
    bits_w = 60 - p
    kscale = bits_w + 1  # max rho; scaled-sum exponent
    h = _h60(value_col)
    w = F.expr(f"CAST(__hll_h DIV {m} AS BIGINT)")
    rho = F.when(w == 0, F.lit(kscale)).otherwise(
        F.lit(bits_w) - F.length(F.bin(w)) + F.lit(1)
    )
    regs = (
        df.select(*group_cols, h.alias("__hll_h"))
        .select(
            *group_cols,
            (F.col("__hll_h") % m).alias("__idx"),
            rho.cast("int").alias("__rho"),
        )
        .groupBy(*group_cols, "__idx")
        .agg(F.max("__rho").alias("__m"))
    )
    s_present = F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {kscale} - __m)"))
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__nreg"), s_present.alias("__sp")
    )
    s_scaled = (F.col("__sp") + (F.lit(m) - F.col("__nreg")) * F.lit(1 << kscale)).alias(
        "s_scaled"
    )
    out = agg.select(
        *group_cols,
        (F.lit(m) - F.col("__nreg")).cast("int").alias("n_zero"),
        s_scaled,
    )
    return out.withColumn(estimate_col, hll_estimate_from_scaled("s_scaled", p))


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    k: int = 256,
    group_cols: list[str] | None = None,
    estimate_col: str = "estimate",
) -> DataFrame:
    """KMV (k-minimum-values) distinct estimate per group: keep the k
    smallest distinct 60-bit hashes; if the k-th exists, the estimate is
    (k-1) * 2^60 / h_k (Bar-Yossef et al. 2002), else the group has
    fewer than k distinct values and the count is exact.

    Output: group_cols + (n_min int, kth_hash long, estimate double).
    n_min = min(k, exact distinct count); kth_hash = the n_min-th
    smallest hash. Scale: the distinct pass is the one wide shuffle;
    the top-k window then ranks <= distinct rows per group (partial
    aggregation cannot pre-truncate a row_number, but the shuffled
    payload is already one long per distinct value).
    """
    group_cols = list(group_cols or [])
    h = _h60(value_col)
    dist = df.select(*group_cols, h.alias("__h")).distinct()
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("__h")
    ranked = dist.select(*group_cols, "__h", F.row_number().over(w).alias("__rn")).filter(
        F.col("__rn") <= k
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.max("__rn").cast("int").alias("n_min"), F.max("__h").alias("kth_hash")
    )
    est = F.when(
        F.col("n_min") < k, F.col("n_min").cast("double")
    ).otherwise(
        F.lit(float(k - 1) * float(HASH_SPACE)) / F.col("kth_hash").cast("double")
    )
    return agg.withColumn(estimate_col, F.round(est, 6) + F.lit(0.0))


def cm_sketch(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch table over a column: depth independent hash rows
    (salted md5), width buckets each. Output (d int, bucket int, c long)
    — depth*width integer counters, mergeable by (d, bucket) addition.

    Scale: the explode multiplies rows by `depth` map-side, but the
    groupBy's partial aggregation collapses each partition to <=
    depth*width rows before the shuffle — the exchange is O(sketch), not
    O(data), which is the whole point of the sketch at 100 TB.
    """
    rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("d"), (_h60(value_col, salt=f"cm{j}") % width).alias("b")
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.explode(rows).alias("__e"))
        .select(F.col("__e.d").alias("d"), F.col("__e.b").cast("int").alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cm_estimate(
    df: DataFrame,
    value_col: str,
    items: list[str],
    depth: int = 4,
    width: int = 1024,
    out: str = "est_count",
) -> DataFrame:
    """Count-Min point estimates for a literal item list: est(x) =
    min over d of sketch[d][h_d(x) % width] — an upper bound on the true
    frequency, with the standard (eps, delta) guarantees.

    The probe side is a depth*|items| literal table (bucket positions
    computed driver-free, in-plan, from the same salted md5), broadcast
    into the sketch — no second scan of the corpus. Items absent from
    every bucket still return a row (est 0) via the left join.
    Output: (item string, est_count long).
    """
    sketch = cm_sketch(df, value_col, depth=depth, width=width)
    spark = df.sparkSession
    probe = (
        local_table(spark, [(it,) for it in items], "item string")
        .select(
            "item",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("d"),
                            (_h60("item", salt=f"cm{j}") % width)
                            .cast("int")
                            .alias("bucket"),
                        )
                        for j in range(depth)
                    ]
                )
            ).alias("__e"),
        )
        .select("item", F.col("__e.d").alias("d"), F.col("__e.bucket").alias("bucket"))
    )
    # the sketch is <= depth*width rows BY CONSTRUCTION (driver-side
    # bound) — broadcast it into the tiny probe table, never the reverse
    joined = probe.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return (
        joined.groupBy("item")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias(out))
    )


def bloom_prefilter(
    build_df: DataFrame,
    build_col: str,
    probe_df: DataFrame,
    probe_col: str,
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
    hit_col: str = "bloom_hit",
) -> DataFrame:
    """Bloom-filter join pre-filter: summarize the build side's distinct
    keys as a set of bit positions (n_hashes salted md5 positions per
    key, modulo n_bits), then flag each distinct probe key by whether
    ALL its positions are present. bloom_hit = 1 guarantees nothing;
    bloom_hit = 0 PROVES the key is absent — the classic shuffle-saving
    semi-join pre-filter (at 100 TB: ship the <= n_bits-row position set
    instead of shuffling the fact table on the join key).

    Collided positions within one key are harmless: the per-key match
    count equals n_hashes iff every salted position is in the built set.
    The position table is broadcast under a DRIVER-SIDE bound (<= n_bits
    rows by construction — never a Catalyst size estimate, CLAUDE.md
    SIZES_BROADCAST_CAP lesson); larger filters fall back to a shuffle
    join. Output: (probe_col, bloom_hit int).
    """

    def positions(frame: DataFrame, col: str) -> DataFrame:
        pos = F.array(*[(_h60(col, salt=f"bf{j}") % n_bits) for j in range(n_hashes)])
        return frame.select(F.col(col), F.explode(pos).alias("__pos"))

    built = positions(build_df, build_col).select("__pos").distinct()
    if n_bits <= BLOOM_BROADCAST_MAX_BITS:
        built = F.broadcast(built)
    probe = positions(probe_df.select(probe_col).distinct(), probe_col)
    hits = (
        probe.join(built.withColumnRenamed("__pos", "__bpos"),
                   probe["__pos"] == F.col("__bpos"), "left")
        .groupBy(probe_col)
        .agg(
            (F.count(F.col("__bpos")) == n_hashes).cast("int").alias(hit_col)
        )
    )
    return hits


def _hll_registers(df: DataFrame, value_col: str, p: int) -> DataFrame:
    """(idx int, m int) register table for one un-grouped column — the
    mergeable core shared by hll_overlap's three sketch combinations."""
    m = 1 << p
    bits_w = 60 - p
    kscale = bits_w + 1
    h = _h60(value_col)
    w = F.expr(f"CAST(__hll_h DIV {m} AS BIGINT)")
    rho = F.when(w == 0, F.lit(kscale)).otherwise(
        F.lit(bits_w) - F.length(F.bin(w)) + F.lit(1)
    )
    return (
        df.select(h.alias("__hll_h"))
        .select(
            (F.col("__hll_h") % m).cast("int").alias("idx"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("idx")
        .agg(F.max("rho").alias("m"))
    )


def hll_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    p: int = 12,
) -> DataFrame:
    """Set-overlap estimation between two corpora from their HLL
    sketches — |A|, |B|, |A ∪ B| (union registers = per-index max, the
    mergeability property), and |A ∩ B| by inclusion-exclusion. The
    100 TB use case: estimate token/url/doc-fingerprint overlap between
    two sources without ever joining them — three O(m)-row sketches
    instead of a corpus-scale shuffle.

    Output: ONE row (s_a, s_b, s_union long; est_a, est_b, est_union,
    est_intersection double). All register state integer; the four
    floats are literal/BIGINT divisions (+/- of those for the
    intersection) computed identically cross-engine, rounded 6dp.
    Intersection estimates inherit BOTH sketches' error — small overlaps
    can round to negative values; they are floored at 0.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"hll_overlap: p must be in [4, 16], got {p}")
    m = 1 << p
    kscale = 61 - p
    numer = hll_alpha(m) * m * m * float(1 << kscale)

    from ..panel import materialize

    # Each register table feeds TWO plan branches (its own s_scaled
    # aggregate and the union) — without materialize Catalyst re-executes
    # the full upstream corpus scan per branch (multi-branch invariant).
    # ONE side-tagged union checkpoint instead of two per-side checkpoints
    # (r13 opt): both corpus scans run as stages of a single blocking job
    # (overlapped, one job launch saved) and the union registers come
    # straight off the tagged table. O(2m) rows, so the checkpoint is
    # ~free; registers are byte-identical to the two-checkpoint plan.
    regs = materialize(
        _hll_registers(df_a, value_col, p)
        .select(F.lit(0).alias("__side"), "idx", "m")
        .unionAll(
            _hll_registers(df_b, value_col, p)
            .select(F.lit(1).alias("__side"), "idx", "m")
        )
    )
    ra = regs.filter(F.col("__side") == 0).select("idx", "m")
    rb = regs.filter(F.col("__side") == 1).select("idx", "m")
    ru = regs.groupBy("idx").agg(F.max("m").alias("m"))

    def s_scaled(regs: DataFrame, out: str) -> DataFrame:
        return regs.agg(
            (
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {kscale} - m)"))
                + (F.lit(m) - F.count(F.lit(1))) * F.lit(1 << kscale)
            ).alias(out)
        )

    est = lambda col: F.lit(numer) / F.col(col).cast("double")  # noqa: E731
    one = (
        s_scaled(ra, "s_a")
        .crossJoin(F.broadcast(s_scaled(rb, "s_b")))
        .crossJoin(F.broadcast(s_scaled(ru, "s_union")))
    )
    return one.select(
        "s_a",
        "s_b",
        "s_union",
        (F.round(est("s_a"), 6) + F.lit(0.0)).alias("est_a"),
        (F.round(est("s_b"), 6) + F.lit(0.0)).alias("est_b"),
        (F.round(est("s_union"), 6) + F.lit(0.0)).alias("est_union"),
        (
            F.round(
                F.greatest(est("s_a") + est("s_b") - est("s_union"), F.lit(0.0)), 6
            )
            + F.lit(0.0)
        ).alias("est_intersection"),
    )


def hll_time_rollup(
    events: DataFrame,
    epoch_us_col: str,
    value_col: str,
    key_cols: tuple[str, ...] = ("event_type",),
    granularities: tuple[str, ...] = ("hour", "day"),
    p: int = 8,
) -> DataFrame:
    """Multi-granularity DISTINCT-count rollup — the continuous-aggregate
    shape (relational.time_bucket_rollup) for the one aggregate plain
    sums cannot roll up. COUNT(DISTINCT) over coarser windows is not a
    sum of finer windows; HLL registers ARE max-mergeable, so every
    coarser level merges the previous level's REGISTER TABLE
    (O(buckets x m) rows) — the raw events are scanned exactly once no
    matter how many levels, which is the whole point at 100 TB
    (TimescaleDB/Druid keep distinct-count continuous aggregates with
    exactly this sketch-merge design).

    Bucket indices are integer epoch_us DIV width (the
    time_bucket_rollup convention — widths fine->coarse, exact
    multiples, so level k's bucket = level k-1's bucket DIV ratio).
    Output: (granularity, bucket, *key_cols, n_zero, s_scaled,
    estimate) for every level, unioned; each register level is
    materialized (it feeds both its coarser level and the union — the
    quadtree-levels lesson).
    """
    from ..panel import materialize
    from .relational import TIME_BUCKET_WIDTHS

    if not 4 <= p <= 16:
        raise ValueError(f"hll_time_rollup: p must be in [4, 16], got {p}")
    widths = []
    for g in granularities:
        w = TIME_BUCKET_WIDTHS.get(g) if isinstance(g, str) else int(g)
        if w is None:
            raise ValueError(f"unknown granularity {g!r}; use one of "
                             f"{sorted(TIME_BUCKET_WIDTHS)} or an int width in µs")
        widths.append((str(g), w))
    for (_, a), (_, b) in zip(widths, widths[1:]):
        if b % a != 0:
            raise ValueError(
                f"granularities must be fine->coarse with exact multiples; "
                f"{b} µs is not a multiple of {a} µs"
            )
    keys = list(key_cols)
    m = 1 << p
    bits_w = 60 - p
    kscale = bits_w + 1
    h = _h60(value_col)
    w_expr = F.expr(f"CAST(__hll_h DIV {m} AS BIGINT)")
    rho = F.when(w_expr == 0, F.lit(kscale)).otherwise(
        F.lit(bits_w) - F.length(F.bin(w_expr)) + F.lit(1)
    )
    g0, w0 = widths[0]
    regs = (
        events.select(
            F.expr(f"{epoch_us_col} DIV {w0}").alias("bucket"), *keys,
            h.alias("__hll_h"),
        )
        .select(
            "bucket", *keys,
            (F.col("__hll_h") % m).cast("int").alias("__idx"),
            rho.cast("int").alias("__rho"),
        )
        .groupBy("bucket", *keys, "__idx")
        .agg(F.max("__rho").alias("__m"))
    )

    def summarize(r: DataFrame, gran: str) -> DataFrame:
        agg = r.groupBy("bucket", *keys).agg(
            F.count(F.lit(1)).alias("__nreg"),
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {kscale} - __m)")).alias("__sp"),
        )
        return agg.select(
            F.lit(gran).alias("granularity"),
            "bucket",
            *keys,
            (F.lit(m) - F.col("__nreg")).cast("int").alias("n_zero"),
            (F.col("__sp") + (F.lit(m) - F.col("__nreg")) * F.lit(1 << kscale)).alias(
                "s_scaled"
            ),
        ).withColumn("estimate", hll_estimate_from_scaled("s_scaled", p))

    out_levels = []
    for i, (g, w) in enumerate(widths):
        if i > 0:
            ratio = w // widths[i - 1][1]
            regs = (
                regs.groupBy(
                    F.expr(f"bucket DIV {ratio}").alias("bucket"), *keys, "__idx"
                ).agg(F.max("__m").alias("__m"))
            )
        regs = materialize(regs)
        out_levels.append(summarize(regs, g))
    out = out_levels[0]
    for lv in out_levels[1:]:
        out = out.unionByName(lv)
    return out
