"""Deterministic sampling for training-data pipelines (beyond-reference
surface): stratified quota sampling (data mixing) and train/holdout
splitting.

Both are *hash-threshold* samplers, not `df.sample()`: a row's fate is a
pure function of (id, seed), so results are reproducible across runs,
engines, partitionings, and cluster sizes — the property a 100 TB corpus
pipeline actually needs (rerunning a failed stage must not resample), and
what makes the operators hash-oracle-checkable against DuckDB.

The hash is the engine-portable md5→integer pipeline used by the minhash
family: the first 8 hex chars of md5(id || ':' || seed) as a 32-bit
integer, uniform on [0, 2^32). Keep a row iff its bucket < fraction·2^32.
Pure column expressions — no UDFs, no shuffle; the filter runs inside the
scan, and at 100 TB a 1 % sample never materializes the other 99 %.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..panel import local_table

_BUCKETS = 1 << 32


def hash_bucket(id_col: Column, seed: int = 42) -> Column:
    """Uniform [0, 2^32) bucket from md5 — identical in any engine with md5
    (DuckDB: CAST('0x' || substr(md5(...), 1, 8) AS BIGINT))."""
    key = F.concat(id_col.cast("string"), F.lit(f":{int(seed)}"))
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def stratified_sample(
    df: DataFrame,
    fractions: dict,
    strata_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum quota sampling — the data-mixing step that up/down-weights
    domains, languages, or quality tiers when composing a training corpus.

    ``fractions``: {stratum_value: keep_fraction}; strata absent from the
    map keep ``default_fraction``. The per-stratum threshold is folded into
    ONE CASE expression (no join, no shuffle): keep iff
    hash_bucket(id, seed) < fraction · 2^32. Expected kept rows per stratum
    = fraction · |stratum|, exact in distribution and deterministic in
    membership."""
    bucket = hash_bucket(F.col(id_col), seed)
    thresh = F.lit(int(float(default_fraction) * _BUCKETS))
    for val, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == F.lit(val), F.lit(int(float(frac) * _BUCKETS))
        ).otherwise(thresh)
    return df.filter(bucket < thresh)


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
    prefilter_above: int = 100_000,
) -> DataFrame:
    """Deterministic weighted sampling without replacement — Efraimidis &
    Spirakis (2006) A-res: each row draws u = hash-uniform(0,1] from
    (id, seed) and scores key = -ln(u)/w; the n SMALLEST keys win, which
    samples row i with probability ∝ w_i. The training-data use is
    quality- or importance-weighted corpus selection (weight = quality
    score, token count, domain boost) with the same reproducibility
    contract as the other samplers: a row's fate depends only on
    (id, seed, weight), never on partitioning or cluster size.

    Scale shape: the key is a pure column expression in the scan and the
    selection is `orderBy(key).limit(n)` — a distributed
    TakeOrderedAndProject (per-partition top-n + driver merge, pinned in
    tests), never a global sort. TakeOrdered's driver merge holds up to
    n rows per partition, so for corpus-scale samples
    (n >= ``prefilter_above``) a pre-filter pass bounds it first: an
    approximate quantile of the key at ~3n/N keeps ≈3n survivor rows and
    only THOSE enter the exact top-n (verified sufficient, with an
    automatic fallback to the direct path if the quantile undershot).
    Rows with NULL or non-positive weight are excluded (their inclusion
    probability is 0). Ranking and selection use the UNROUNDED key with id
    tie-breaks: ordering raw doubles is ulp-stable across engines (a flip
    needs two distinct rows' keys within ~1 ulp), whereas ranking on a
    6dp-rounded key manufactures exact ties at every rounding boundary and
    inherits ln's engine last-ulp there. The output ``sample_key`` is
    rounded (and -0.0-canonicalized) for display only; the prefilter never
    changes results — it only drops rows that cannot be in the top n.

    Output: the sampled rows with ``sample_key`` and ``sample_rank``
    (1..n by ascending key).
    """
    w = F.col(weight_col).cast("double")
    u = (hash_bucket(F.col(id_col), seed) + F.lit(1)).cast("double") / F.lit(
        float(_BUCKETS)
    )
    keyed = df.filter(w > 0).withColumn("sample_key", -F.log(u) / w)
    sel = _bounded_top(keyed, int(n), prefilter_above)
    from pyspark.sql import Window

    rank_w = Window.orderBy(F.col("sample_key").asc(), F.col(id_col))
    top = sel.orderBy(F.col("sample_key").asc(), F.col(id_col)).limit(int(n))
    return top.withColumn(
        "sample_rank", F.row_number().over(rank_w)
    ).withColumn("sample_key", F.round("sample_key", 6) + F.lit(0.0))


def _bounded_top(keyed: DataFrame, n: int, prefilter_above: int) -> DataFrame:
    """Bound the exact top-n input for large n: approx-quantile cut on
    ``sample_key`` keeps ~3n rows (exactness preserved — only rows above
    the cut, which cannot be in the top n once >= n rows sit at or below
    it, are dropped); falls back to the full frame when the sampled
    quantile undershot or the table is small."""
    if n < prefilter_above:
        return keyed
    total = keyed.count()
    if total <= 3 * n:
        return keyed
    frac = min(1.0, 3.0 * n / total)
    cut = keyed.stat.approxQuantile("sample_key", [frac], 0.01)
    if not cut:
        return keyed
    survivors = keyed.filter(F.col("sample_key") <= cut[0])
    # the cut is only a valid upper bound for the n-th key if at least n
    # rows survive; approxQuantile guarantees that within its relative
    # error, checked exactly here
    if survivors.count() < n:
        return keyed
    return survivors


def split_column(
    df: DataFrame,
    holdout_fraction: float = 0.01,
    id_col: str = "doc_id",
    seed: int = 42,
    out: str = "split",
) -> DataFrame:
    """Deterministic train/holdout labeling: 'holdout' iff
    hash_bucket(id, seed) < fraction · 2^32, else 'train'.

    A labeling (not a filter) so one pass feeds both sinks; the split is
    stable under re-partitioning and incremental reruns — a document's
    split never changes when the corpus grows, which is what keeps the
    holdout uncontaminated across pipeline versions."""
    bucket = hash_bucket(F.col(id_col), seed)
    cut = int(float(holdout_fraction) * _BUCKETS)
    return df.withColumn(
        out, F.when(bucket < cut, F.lit("holdout")).otherwise(F.lit("train"))
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-group cap: keep at most ``n`` rows per group,
    chosen by smallest salted hash (a uniform, corpus-growth-stable
    'random' n — the standard per-domain document cap in web-corpus
    curation, where one domain must not dominate the mix).

    One rank window per group ordered by (md5(id:seed), id) — md5 of the
    decimal-string id is engine-common (the stratified_sample rule; a
    native hash like xxhash64 has no DuckDB mirror), and the id tie-break
    makes the selection total and reproducible. Same shuffle shape as
    dedup_keep; hot groups cost a per-group sort bounded by the group's
    rows.
    """
    if n < 1:
        raise ValueError(f"cap_per_group needs n >= 1, got {n}")
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat_ws(":", F.col(id_col), F.lit(seed))), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def mixture_plan(
    counts: dict, targets: dict
) -> dict:
    """Per-stratum keep-fractions achieving target mixture SHARES by pure
    downsampling: the output size is maximized subject to every stratum
    hitting its share exactly — T = min_s count_s / share_s, then
    rate_s = share_s · T / count_s (the binding stratum keeps rate 1).
    Deterministic driver arithmetic over |strata| numbers.
    """
    if not targets:
        raise ValueError("mixture_plan needs at least one target share")
    tot_share = sum(targets[s] for s in sorted(targets, key=str))
    if tot_share <= 0:
        raise ValueError("target shares must sum to a positive value")
    shares = {s: w / tot_share for s, w in targets.items()}
    missing = [s for s in shares if counts.get(s, 0) <= 0 and shares[s] > 0]
    if missing:
        raise ValueError(f"strata with positive target but no rows: {missing}")
    t_max = min(counts[s] / shares[s] for s in shares if shares[s] > 0)
    return {
        s: (shares[s] * t_max / counts[s] if shares[s] > 0 else 0.0)
        for s in shares
    }


def mixture_sample(
    df: DataFrame,
    targets: dict,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Compose a training mix with target per-stratum SHARES (e.g.
    {"web": 0.6, "code": 0.3, "books": 0.1}) by deterministic
    downsampling: one count aggregate fixes the per-stratum rates
    (mixture_plan — largest corpus where every share is exact in
    expectation), then the stratified_sample hash-threshold CASE applies
    them in the scan. Strata not named in ``targets`` are dropped.
    Everything after the |strata|-row count collect is one scan
    expression: no join, no shuffle, reproducible membership."""
    counts = {
        r[strata_col]: r["__n"]
        for r in df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n")).collect()
    }
    rates = mixture_plan(counts, targets)
    return stratified_sample(
        df, rates, strata_col=strata_col, id_col=id_col, seed=seed,
        default_fraction=0.0,
    )


def temperature_targets(counts: dict, alpha: float = 0.7) -> dict:
    """Temperature-flattened target shares from observed stratum counts:
    q_s ∝ p_s^alpha (p_s the observed share) — the multilingual-LM
    sampling rule (mBERT/XLM-R exponential smoothing; alpha=1 keeps the
    natural mix, alpha=0 gives the uniform mix, in between up-weights
    small strata). Pure driver arithmetic over |strata| floats, exactly
    reproducible from the counts — which is what lets the DuckDB oracle
    regenerate the identical plan from its own counts."""
    if not 0.0 <= float(alpha) <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    total = sum(counts.values())
    if total <= 0:
        raise ValueError("temperature_targets needs non-empty counts")
    q = {s: (c / total) ** float(alpha) for s, c in counts.items() if c > 0}
    # sorted-key fold: collect()/fetchall() dict order is nondeterministic,
    # and the strict gate's bit-parity claim needs both engines to sum
    # these floats in the same order (order-dependent double-sum class)
    z = sum(q[s] for s in sorted(q))
    return {s: v / z for s, v in q.items()}


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.7,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Compose a temperature-flattened training mix: target shares are
    ``temperature_targets`` of the corpus's own stratum counts, applied
    by `mixture_sample`'s exact-share downsampling plan (one count
    aggregate, then a single hash-threshold scan expression — no join,
    no extra shuffle, deterministic membership). The standard
    multilingual / multi-source curation recipe: small sources are
    up-weighted relative to their natural share without ever
    up-SAMPLING (rates stay <= 1)."""
    counts = {
        r[strata_col]: r["__n"]
        for r in df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n")).collect()
    }
    rates = mixture_plan(counts, temperature_targets(counts, alpha))
    return stratified_sample(
        df, rates, strata_col=strata_col, id_col=id_col, seed=seed,
        default_fraction=0.0,
    )


# --- DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169). Hashed n-gram bag-of-buckets importance weights:
# log p_target(bucket) - log p_raw(bucket) summed over a doc's gram
# occurrences, with add-alpha smoothing over a FIXED bucket space.
#
# Scale shape: one gram explode -> bucket hash (pure column exprs in the
# scan), ONE tiny groupBy(bucket) whose collect is bounded by n_buckets
# (an index parameter, never data-sized), a driver-computed weight table
# broadcast back, and ONE groupBy(doc) with map-side combine. Linear in
# corpus tokens end to end; the only wide shuffle is the per-doc sum.
#
# Float discipline (CLAUDE.md grid_lag lesson): log() differs between
# engines in the last ulp, so the per-bucket log-ratios are evaluated
# ONCE, driver-side, by the pure function `dsir_bucket_weights` over the
# exact integer counts both engines agree on, quantized to 1e-9 longs
# (floor is exact IEEE; integer sums commute under any aggregation
# tree). The oracle re-derives the identical table from DuckDB's own
# counts and inlines it as VALUES — per-doc `weight_q` is then a pure
# integer dot product, byte-strict with no float surface at all.

DSIR_WEIGHT_SCALE = 1_000_000_000  # log-ratio quantization (1e-9 resolution)
DSIR_BUCKET_BITS_HEX = 7  # 28-bit md5 prefix, engine-portable (minhash family)


def dsir_bucket_weights(
    rows, n_buckets: int, alpha: float = 1.0
) -> dict[int, int]:
    """Pure driver function: quantized per-bucket log importance ratios
    from exact integer counts. ``rows`` iterates (bucket, c_target,
    c_raw); returns {bucket: floor(1e9 * (log p_t - log p_r))} with
    add-``alpha`` smoothing over the fixed ``n_buckets`` feature space.
    Shared verbatim by the Spark operator and the DuckDB oracle generator
    so both engines consume bit-identical weights (the only floats live
    here, computed once on one machine)."""
    import math

    rows = [(int(b), int(ct), int(cr)) for b, ct, cr in rows]
    t_tot = sum(ct for _, ct, _ in rows)
    r_tot = sum(cr for _, _, cr in rows)
    a = float(alpha)
    denom_t = math.log(t_tot + a * n_buckets)
    denom_r = math.log(r_tot + a * n_buckets)
    return {
        b: math.floor(
            (math.log(ct + a) - denom_t - math.log(cr + a) + denom_r)
            * DSIR_WEIGHT_SCALE
        )
        for b, ct, cr in rows
    }


def _gram_buckets(
    df: DataFrame, id_col: str, text_col: str, target_col: str, n: int, n_buckets: int
) -> DataFrame:
    """(doc, is_target, bucket) per word-n-gram OCCURRENCE (DSIR weights
    count occurrences, unlike the dedup family's distinct shingles).
    Bucket = 28-bit md5 prefix of the gram mod n_buckets — identical in
    DuckDB (CAST('0x' || substr(md5(g), 1, 7) AS BIGINT) % V)."""
    from .dedup import tokens_expr

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.col(target_col).cast("boolean").alias("is_target"),
        tokens_expr(text_col).alias("__toks"),
    ).filter(F.size("__toks") >= n)
    grams = F.expr(
        f"transform(sequence(1, size(__toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {n})))"
    )
    gram = F.explode(grams).alias("__gram")
    out = toks.select("doc", "is_target", gram)
    bucket = (
        F.conv(F.substring(F.md5(F.col("__gram")), 1, DSIR_BUCKET_BITS_HEX), 16, 10)
        .cast("long")
        % F.lit(int(n_buckets))
    )
    return out.select("doc", "is_target", bucket.alias("bucket"))


def dsir_weights(
    df: DataFrame,
    target_col: str = "is_target",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document DSIR importance weights: how much more likely the
    doc's hashed n-gram bag is under the TARGET distribution (rows where
    ``target_col`` is true) than under the RAW distribution (the rest).
    The standard "select raw web data that looks like the target domain"
    curation step.

    Output: (id_col, is_target, n_grams, weight_q, weight) — ``weight_q``
    is the exact 1e-9-quantized long (the strict-gate column; integer
    sums are aggregation-order-free), ``weight`` its rounded double for
    humans. Docs with fewer than ``n`` tokens have no features and are
    omitted (no defined weight — the contract the ANN family uses for
    undefined cosines).

    The gram table feeds two branches (bucket counts + per-doc scoring),
    so it is materialized once (CLAUDE.md multi-branch rule)."""
    from ..panel import materialize

    occ = materialize(_gram_buckets(df, id_col, text_col, target_col, n, n_buckets))
    counts = (
        occ.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("cr"),
        )
        .collect()  # bounded by n_buckets (an index param), never data-sized
    )
    wmap = dsir_bucket_weights(
        ((r["bucket"], r["ct"], r["cr"]) for r in counts), n_buckets, alpha
    )
    spark = df.sparkSession
    wdf = local_table(spark, sorted(wmap.items()), "bucket long, __q long")
    per = (
        occ.join(F.broadcast(wdf), "bucket")
        .groupBy("doc", "is_target")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("__q").alias("weight_q"),
        )
    )
    return per.select(
        F.col("doc").alias(id_col),
        "is_target",
        "n_grams",
        "weight_q",
        (
            F.round(F.col("weight_q").cast("double") / F.lit(float(DSIR_WEIGHT_SCALE)), 6)
            + F.lit(0.0)
        ).alias("weight"),
    )


def dsir_select(
    df: DataFrame,
    n_select: int,
    target_col: str = "is_target",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    prefilter_above: int = 100_000,
) -> DataFrame:
    """Top-``n_select`` RAW documents by DSIR importance weight — the
    deterministic-selection variant of DSIR's resampling step (ranking on
    the exact quantized long with id tie-breaks keeps the gate
    byte-strict; for sampled selection compose `dsir_weights` with
    `weighted_sample`, which already carries the hash-Gumbel machinery).

    Scale shape: orderBy(key).limit(n) — a distributed
    TakeOrderedAndProject like `weighted_sample`, with the same
    approx-quantile prefilter for corpus-scale n (exactness preserved:
    only rows that provably cannot reach the top n are dropped).

    Output: (id_col, n_grams, weight_q, dsir_rank), rank 1..n by
    descending weight."""
    w = dsir_weights(
        df, target_col=target_col, id_col=id_col, text_col=text_col,
        n=n, n_buckets=n_buckets, alpha=alpha,
    )
    raw = w.filter(~F.col("is_target")).withColumn(
        # negate so the shared ascending-top-n helper keeps the LARGEST
        "sample_key", -F.col("weight_q").cast("double")
    )
    sel = _bounded_top(raw, int(n_select), prefilter_above)
    top = sel.orderBy(
        F.col("weight_q").desc(), F.col(id_col).asc()
    ).limit(int(n_select))
    rank_w = Window.orderBy(F.col("weight_q").desc(), F.col(id_col).asc())
    return top.withColumn("dsir_rank", F.row_number().over(rank_w)).select(
        id_col, "n_grams", "weight_q", "dsir_rank"
    )
