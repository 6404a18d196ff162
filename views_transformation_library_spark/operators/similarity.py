"""Similarity search over embedding columns (beyond-reference surface).

Brute-force cosine top-k is the exact baseline: a broadcast join of the
(small) query set against the full vector table — one pass, no index. The
scale path is LSH bucketing by random-hyperplane signatures: vectors and
queries land in sign-pattern buckets; only same-bucket (or near-bucket)
pairs are scored, trading recall for a ~2^planes reduction in pairs.

All arithmetic is promoted to double before the fold so results are stable
and engine-comparable; similarities are rounded to 6dp *before* ranking so
rank ties (broken by vec_id) are deterministic.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from ..panel import local_table, materialize


def _dot(a, b):
    """Dot product as a left-associated zip_with/aggregate fold (matches
    the DuckDB list_sum-comprehension oracles bit-exactly). Measured
    alternatives at sf0.1 both LOSE: an unrolled GetArrayItem sum is ~3x
    slower (64 null-checked array accesses defeat codegen), and an
    Arrow/pandas dot pays more in transfer than it saves in math — the
    interpreted HOF fold is the best per-pair scorer available here."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# Hot-bucket guard for the cogrouped top-k scorers (knn_graph/ann_join):
# the candidate buffer prunes to bucket-local per-query top-k whenever it
# exceeds PRUNE_AT rows, keeping rows within TOPK_MARGIN of the k-th best
# UNROUNDED cosine. TOPK_MARGIN (2e-6) exceeds the largest perturbation
# 6dp HALF_UP rounding + neighbor_id tie-breaking can introduce (2·5e-7 +
# ulp), so exact ranking over survivors == ranking the full set. Task
# memory is O(PRUNE_AT + CHUNK²) regardless of bucket skew; module-level
# so the planted-skew test can shrink PRUNE_AT and hammer the prune path.
PRUNE_AT = 262_144
TOPK_MARGIN = 2e-6

def auto_ann_params(n: int) -> dict:
    """Log-scaled ANN index parameters from the corpus count (r6,
    VERDICT r5 #6 — fixed parameters sag as the corpus grows: lsh recall
    0.28→0.235, pq 0.80→0.535 from sf0.01→sf0.1). Rules, each a
    documented cost/recall policy rather than magic numbers:

    - ``n_planes``: smallest p >= 4 with n·(1+p)/2^p <= the candidate
      budget 4096·max(1, √(n/20000)) — Hamming-1 multi-probe LSH recall
      tracks the scored FRACTION (1+p)/2^p, so a constant budget decays
      it ∝ 1/n (r11: the RECALL_SF5 floors run caught 0.18 < floor 0.20
      at n=1e5 under the flat 4096); a √n budget decays the fraction only
      ∝ 1/√n (per-query work sublinear, total ∝ n^1.5 — still never the
      corpus-scale tier, which is the bucket-join families). The √n term
      only engages past n=20k, so every gate SF ≤ sf1 keeps its r10
      plane count (no oracle churn). Measured sf0.1: p=4 → recall 0.51
      (vs 0.235 at the old fixed p=6); sf5 gaussian: p=7 → 0.2427 vs
      p=8 → 0.18 (RECALL_SF5_r11.json; clustered corpus 0.2806).
    - ``n_centroids`` = n^(1/3) (clamped [8, 64]), ``nprobe`` = nc/2 —
      this operator bakes the centroids into the assignment expression as
      literals, so PLAN COMPILE is the cost that scales with nc (√n
      centroids measured 8.3 s vs 5.1 s here at sf0.1, for LESS recall);
      the index grows sublinearly, half of it is probed, and corpus-scale
      ANN belongs to the bucket-join families (knn_graph / ann_join)
      anyway. Measured sf0.1: 0.7475 (vs 0.5375 at fixed 16/4).
    - ``rerank`` = 8·⌈n/1000⌉ (clamped [8, 256]) — IVFADC+R re-scores k·r
      exact candidates; ADC rank quality dilutes roughly with corpus
      scale, so r grows linearly until the 256·k ceiling (r8: the old 64
      ceiling bound at sf1 — recall 0.652; r=160 keeps k·r = 1600 of
      20k candidates, still ≪ N, and the exact-rescore join stays a
      per-query sliver while the ADC scan cost is unchanged). Measured
      sf0.1: r=16 → 0.705 (vs 0.535 at fixed 8).

    Callers opt in by passing None (lsh/ivf) or "auto" (pq rerank); the
    one extra count() action is the price of plan-time derivation.
    """
    n = max(1, int(n))
    budget = 4096.0 * max(1.0, math.sqrt(n / 20000.0))
    p = 4
    while p < 20 and n * (1 + p) / (1 << p) > budget:
        p += 1
    nc = max(8, min(64, round(n ** (1.0 / 3.0))))
    return {
        "n_planes": p,
        "n_centroids": nc,
        "nprobe": max(4, nc // 2),
        "rerank": max(8, min(256, 8 * math.ceil(n / 1000))),
    }


# pq_topk builds its ADC distance tables from a driver-side collect() of
# the query frame — O(|queries| · m · k_codes) rows of python loop. That
# is the right shape for the documented small-query regime, but a large
# query frame must never silently hit the driver: above this cap the
# table is built distributedly (posexplode subspace slices + broadcast
# codebook join) instead. Module-level so tools/bench_overcap.py can
# force the slow path with PQ_QUERY_DRIVER_CAP = 0.
PQ_QUERY_DRIVER_CAP = 8_192


def _empty_topk(vectors: DataFrame, id_col: str, score: str = "cosine") -> DataFrame:
    """Empty result with the top-k output schema (empty/all-null input)."""
    id_type = dict(vectors.dtypes).get(id_col, "bigint")
    return local_table(
        vectors.sparkSession,
        [],
        f"query_id {id_type}, neighbor_id {id_type}, {score} double, rank int",
    )


def _score_and_rank(pairs: DataFrame, k: int) -> DataFrame:
    """Shared scoring/ranking tail for the top-k variants: 6dp-rounded
    cosine (so rank ties are deterministic, broken by neighbor_id), with the
    norm product nullif-guarded — a zero-norm vector yields NULL cosine and
    is dropped rather than raising DIVIDE_BY_ZERO under ANSI mode (the
    default in Spark 4)."""
    cos = _dot(F.col("__qv"), F.col("__vv")) / F.nullif(
        F.col("__qn") * F.col("__vn"), F.lit(0.0)
    )
    # Zero-norm exclusion must NOT be a pre-filter: any predicate above the
    # per-row projections gets pushed below them with alias substitution,
    # re-deriving the norm (and, for the quantized path, the whole
    # quantize-roundtrip chain) inside the scan predicate — the
    # llm_pipeline lesson, measured +1.8 s at sf0.1 here. Instead the
    # nullif makes zero-norm cosines NULL, NULLS-LAST ordering parks them
    # after every real neighbour (so valid rows' ranks are unchanged), and
    # the filter sits ABOVE the rank window — a pushdown barrier.
    # + 0.0 canonicalizes IEEE -0.0 to +0.0 (a true cosine in (-5e-7, 0)
    # rounds to -0.0 in DuckDB but +0.0 via Spark's BigDecimal round; the
    # driver hash is byte-exact, so both sides must agree)
    scored = pairs.select(
        "query_id", "neighbor_id", (F.round(cos, 6) + F.lit(0.0)).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & F.col("cosine").isNotNull())
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours of each query vector (excluding the
    query itself when ids collide). queries: (id_col, vec_col) — typically
    small -> broadcast; the big side streams through one pass.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k by
    (cosine desc, neighbor_id) on 6dp-rounded cosine; zero-norm vectors are
    excluded (undefined cosine)."""
    # norms precomputed per vector (once), not per pair
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vv"),
        _norm(F.col(vec_col)).alias("__vn"),
    )
    pairs = v.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    return _score_and_rank(pairs, k)


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
    seed: int = 42,
) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold — EXACT, via metric
    blocking (ball-cover pruning), never an all-pairs cartesian.

    cosine(a,b) >= t  ⟺  ||â - b̂|| <= d_t := sqrt(2 - 2t) on the unit
    sphere. Vectors are assigned to their nearest of `n_blocks` k-means
    centroids (trained on a bounded driver sample); each block i keeps its
    radius r_i = max member distance to centroid. By the triangle
    inequality a qualifying pair can only span blocks (i, j) with
    ||c_i - c_j|| <= r_i + r_j + d_t, so only those block pairs are
    equi-joined and exact-verified. Same output as brute force; the plan is
    scan → block-pair equi-join (tiny broadcast pair table) → verify — no
    CartesianProduct (pinned in tests/test_plans.py). Worst case (one
    dense ball) degrades to all-pairs *work* but stays a bucketed join.
    """
    t = float(threshold)
    d_t = math.sqrt(max(0.0, 2.0 - 2.0 * t)) if t > -1.0 else 2.0
    base = vectors.filter(_norm(F.col(vec_col)) > 0)  # zero-norm: NULL cosine, never output
    unit = F.transform(
        F.col(vec_col), lambda x: x.cast("double") / _norm(F.col(vec_col))
    )
    unit_df = base.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"), unit.alias("__u"))
    built = _ivf_index(
        unit_df, n_blocks, 1, id_col="__id", vec_col="__u", seed=seed, two_level=False
    )
    if built is None:
        id_type = dict(vectors.dtypes).get(id_col, "bigint")
        return local_table(
            vectors.sparkSession, [], f"a {id_type}, b {id_type}, cosine double"
        )
    centroids = built[0]
    # one shared assignment table feeds BOTH self-join branches and the
    # radius aggregate — materialize so the scan+assign runs once
    assigned = materialize(
        _assign(unit_df, "__u", centroids, with_d2=True).select(
            "__id", "__v",
            F.col("__probes")[0].alias("__blk"),
            F.sqrt(F.col("__d2")).alias("__r"),
        )
    )
    radii = {
        r["__blk"]: r["r"]
        for r in assigned.groupBy("__blk").agg(F.max("__r").alias("r")).collect()
    }
    C = np.array(centroids, dtype=np.float64)
    admissible = []
    for i in radii:
        for j in radii:
            if float(np.linalg.norm(C[i] - C[j])) <= radii[i] + radii[j] + d_t:
                admissible.append((i, j))
    pair_tbl = local_table(vectors.sparkSession, admissible, "bi int, bj int")
    # verification is a block-pair COGROUPED numpy scorer: each vector
    # ships once per admissible partner block (<= n_blocks copies), never
    # once per candidate pair, and per-(bi,bj) chunked matrices score with
    # the same left-associated float64 fold as `_dot` (strict-gate
    # bit-parity). The UDF emits only near-threshold pairs (raw cosine >=
    # t - 1e-6, wider than round(·,6) >= t since |round(x,6)-x| <= 5e-7);
    # Spark applies the exact HALF_UP round + threshold on that small set.
    left = assigned.join(F.broadcast(pair_tbl), assigned["__blk"] == pair_tbl["bi"]).select(
        "bi", "bj", "__id", "__v"
    )
    # alias EVERY right-side column (cogroup branches share the `assigned`
    # lineage; unaliased attributes collide and get pruned — same rule as
    # self-joins)
    pr = pair_tbl.select(F.col("bi").alias("rbi"), F.col("bj").alias("rbj"))
    right = assigned.join(F.broadcast(pr), assigned["__blk"] == pr["rbj"]).select(
        "rbi", "rbj", F.col("__id").alias("__idb"), F.col("__v").alias("__vb")
    )
    id_t = dict(vectors.dtypes).get(id_col, "bigint")
    margin = t - 1e-6
    CHUNK = 2048
    _blk_dim = len(centroids[0])  # index dimension; ragged rows are dropped

    def _score_blocks(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        cols = ["a", "b", "__cos"]
        empty = pd.DataFrame({c: [] for c in cols})
        if l.empty or r.empty:
            return empty

        def prep(pdf, id_c, v_c):
            # drop null / wrong-dimension vectors (no defined cosine)
            # instead of crashing np.vstack on a ragged batch (r9)
            ok = np.array(
                [v is not None and len(v) == _blk_dim for v in pdf[v_c]],
                dtype=bool,
            )
            ids = pdf[id_c].values[ok]
            if not ok.any():
                return ids, np.zeros((0, 1)), np.zeros(0)
            X = np.vstack(pdf[v_c].values[ok]).astype(np.float64)
            nsq = np.zeros(len(X))
            for i in range(X.shape[1]):
                nsq = nsq + X[:, i] * X[:, i]
            nz = nsq > 0.0
            return ids[nz], X[nz], np.sqrt(nsq[nz])

        a_ids, A, a_n = prep(l, "__id", "__v")
        b_ids, B, b_n = prep(r, "__idb", "__vb")
        if not len(a_ids) or not len(b_ids):
            return empty
        dim, outs = A.shape[1], []
        for ai in range(0, len(a_ids), CHUNK):
            Ac, an, aid = A[ai:ai + CHUNK], a_n[ai:ai + CHUNK], a_ids[ai:ai + CHUNK]
            for bi_ in range(0, len(b_ids), CHUNK):
                Bc, bn, bid = B[bi_:bi_ + CHUNK], b_n[bi_:bi_ + CHUNK], b_ids[bi_:bi_ + CHUNK]
                acc = np.zeros((len(aid), len(bid)))
                for i in range(dim):
                    acc = acc + Ac[:, i, None] * Bc[None, :, i]
                cos = acc / (an[:, None] * bn[None, :])
                ri, ci = np.nonzero((aid[:, None] < bid[None, :]) & (cos >= margin))
                if len(ri):
                    outs.append(pd.DataFrame({
                        "a": aid[ri], "b": bid[ci], "__cos": cos[ri, ci],
                    }))
        return pd.concat(outs, ignore_index=True) if outs else empty

    cand = (
        left.groupby("bi", "bj")
        .cogroup(right.groupby("rbi", "rbj"))
        .applyInPandas(_score_blocks, f"a {id_t}, b {id_t}, __cos double")
    )
    # + 0.0: canonicalize -0.0 so the byte-exact gate hash matches DuckDB
    return cand.select(
        "a", "b", (F.round("__cos", 6) + F.lit(0.0)).alias("cosine")
    ).filter(F.col("cosine") >= t)


def pca_fit(X: "np.ndarray", k: int) -> tuple[list[float], list[list[float]]]:
    """Deterministic PCA basis from a sample matrix: covariance eigh, top-k
    eigenvectors by descending eigenvalue, each component's sign
    canonicalized so its largest-|entry| coordinate is positive (eigh's
    sign is otherwise arbitrary — canonicalization makes the basis, and
    every oracle replication of it, reproducible). Returns
    (mean[dim], components[k][dim])."""
    X = X.astype(np.float64, copy=False)
    mean = X.mean(axis=0)
    Xc = X - mean
    C = (Xc.T @ Xc) / len(X)
    wvals, vecs = np.linalg.eigh(C)
    order = np.argsort(wvals)[::-1][: int(k)]
    comps = vecs[:, order].copy()
    for j in range(comps.shape[1]):
        i = int(np.argmax(np.abs(comps[:, j])))
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    return mean.tolist(), comps.T.tolist()


def _stack_vectors(seq) -> "np.ndarray":
    """Row-stack Arrow-native vector cells without python-list boxing.
    Identical float64 values to np.array([list(v) for v in seq]) — which
    boxed every element through a PyFloat (~15 s at a 100k×64 sample,
    the r9 knn stage profile) — at vstack speed. Assumes uniform dims
    (callers filter ragged rows first where they can occur)."""
    arrs = [np.asarray(v, dtype=np.float64) for v in seq]
    # empty case keeps the 2-D contract (shape (0, 0)), so callers reading
    # X.shape[1] after a size check never hit a 1-D surprise (ADVICE r9)
    return np.vstack(arrs) if arrs else np.empty((0, 0), dtype=np.float64)


# Row bound of every trainer's driver sample (PCA basis, IVF centroids,
# PQ codebooks): ~1e5 vectors at any table size.
SAMPLE_CAP = 100_000


def _sample_mod(n: int, sample_cap: int = SAMPLE_CAP) -> int:
    """The id-hash modulus that keeps a driver sample of an ``n``-row
    corpus at <= ~``sample_cap`` rows (ceil division)."""
    return max(1, -(-int(n) // int(sample_cap)))


def _driver_sample(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    sample_mod: int | None = None,
    sample_cap: int = SAMPLE_CAP,
) -> "np.ndarray":
    """THE bounded deterministic driver sample the trainers fit on: the
    rows with ``xxhash64(id) % sample_mod == 0`` (reproducible and
    independent of id density), in id order so the numpy pass is
    bit-reproducible. ``sample_mod=None`` derives it from one count of
    ``vectors``; callers that already counted pass ``_sample_mod(n)``.

    Returns the valid vectors stacked float64: null, empty and
    wrong-dimension rows (the dimension of the first valid one) carry no
    geometry and are dropped. An empty or all-NULL sample is ``(0, 0)``."""
    if sample_mod is None:
        sample_mod = _sample_mod(vectors.count(), sample_cap)
    pdf = (
        vectors.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
        .select(id_col, vec_col)
        .toPandas()
        .sort_values(id_col)
    )
    vals = [v for v in pdf[vec_col] if v is not None and len(v) > 0]
    dim = len(vals[0]) if vals else 0
    return _stack_vectors(v for v in vals if len(v) == dim)


def train_pca(
    vectors: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
    sample_cap: int = SAMPLE_CAP,
) -> tuple[list[float], list[list[float]]]:
    """PCA basis from a BOUNDED deterministic driver sample (the
    train_ivf_centroids pattern): xxhash64(id) % mod == 0 keeps ≤
    ~sample_cap vectors regardless of table size, sorted by id so the
    numpy pass is bit-reproducible — at 100 TB you fit the basis on ~1e5
    hash-sampled vectors and PROJECT distributed. An empty or all-NULL
    sample fits no component: ``([], [])``."""
    X = _driver_sample(vectors, id_col, vec_col, sample_mod, sample_cap)
    return pca_fit(X, k) if len(X) else ([], [])


def train_pca_distributed(
    vectors: DataFrame,
    k: int = 4,
    vec_col: str = "embedding",
) -> tuple[list[float], list[list[float]]]:
    """Fully distributed basis fit — the 100 TB path: each partition emits
    ONE (count, sum, Gram) partial via mapInPandas (numpy accumulates
    inside the task; nothing per-row crosses the wire), the driver reduces
    #partitions small rows and runs the same eigh. Float reduction order
    across partials costs a last-ulp nondeterminism vs the sample path, so
    the strict gate trains via `train_pca`; closeness is pytest-attested."""
    import pandas as pd

    def partials(batches):
        n = 0
        s = None
        g = None
        for pdf in batches:
            X = _stack_vectors(pdf[vec_col])
            if not len(X):
                continue
            n += len(X)
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            gg = X.T @ X
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    rows = (
        vectors.select(vec_col)
        .mapInPandas(partials, schema="n long, s array<double>, g array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("train_pca_distributed: empty input")
    n = sum(r["n"] for r in rows)
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    dim = len(s)
    g = np.sum([np.array(r["g"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    C = g / n - np.outer(mean, mean)
    wvals, vecs = np.linalg.eigh(C)
    order = np.argsort(wvals)[::-1][: int(k)]
    comps = vecs[:, order].copy()
    for j in range(comps.shape[1]):
        i = int(np.argmax(np.abs(comps[:, j])))
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    return mean.tolist(), comps.T.tolist()


def project_pca(
    vectors: DataFrame,
    mean: list[float],
    components: list[list[float]],
    vec_col: str = "embedding",
    prefix: str = "pc",
) -> DataFrame:
    """Project onto a fitted basis with pure column expressions:
    pc_j = Σ_i (x_i − mean_i)·comp_ji as a left-associated zip_with fold —
    the exact fold order DuckDB's list_sum comprehension reproduces
    (CLAUDE.md float-parity rule), 6dp-rounded and -0.0-canonicalized.
    Scan-side, no shuffle, no UDF; k folds of dim each."""
    # F.lit(list) builds the whole array literal in ONE py4j call — the
    # per-element F.array(*[F.lit(x)...]) form cost dim round-trips per
    # array and dominated DataFrame-construction time for literal-heavy
    # plans (r13 opt; values and array<double> type are identical)
    mean_lit = F.lit([float(v) for v in mean])
    cols = {}
    for j, comp in enumerate(components):
        comp_lit = F.lit([float(v) for v in comp])
        centered = F.zip_with(
            F.col(vec_col), mean_lit, lambda a, b: a.cast("double") - b
        )
        term = F.zip_with(centered, comp_lit, lambda a, b: a * b)
        fold = F.aggregate(term, F.lit(0.0), lambda acc, v: acc + v)
        cols[f"{prefix}{j}"] = F.round(fold, 6) + F.lit(0.0)
    return vectors.withColumns(cols)


def embedding_pca(
    vectors: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> DataFrame:
    """Dimension reduction for an embedding column: fit on the bounded
    hash-sample, project every row. Output: input + pc0..pc{k-1}; a
    component the sample cannot fit (an empty or all-NULL sample, or
    ``k`` above its dimension) is a NULL double."""
    mean, comps = train_pca(
        vectors, k, id_col=id_col, vec_col=vec_col, sample_mod=sample_mod
    )
    out = project_pca(vectors, mean, comps, vec_col=vec_col)
    unfit = {f"pc{j}": F.lit(None).cast("double") for j in range(len(comps), k)}
    return out.withColumns(unfit) if unfit else out


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]):
    """Sign-pattern bucket id: bit p set iff dot(vec, plane_p) > 0."""
    acc = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        lit_plane = F.lit([float(x) for x in plane])  # one py4j call (r13)
        d = _dot(F.col(vec_col), lit_plane)
        acc = acc + F.when(d > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


# Lloyd's switches to HIERARCHICAL assignment (restricted argmin through
# a per-iteration super index over the current centroids) at/above this
# index size: the flat n×nc GEMM is ∝ sample·nc flops AND a 1.25 GB
# d2-matrix write per iteration at (1e5, 1563) — the r10 stage profile's
# dominant knn term after the serving-side two-level fix. Below it the
# flat path is kept BYTE-IDENTICAL to r9 (small-SF gate outputs do not
# churn).
TRAIN_TWO_LEVEL_MIN_NC = 256

# Worst-case child coverage of the training super-probe count: probe
# enough supers that any nsp of them hold >= this many child centroids.
# Training assignment needs no parity with anything (the oracle re-runs
# this function on the same rows) — only determinism and cluster
# quality; 32 is plain hierarchical k-means with a safety margin
# (recall floors re-verified at sf1/sf5/skew after this change).
TRAIN_SUPER_COVER = 32


def lloyd_kmeans(
    X: "np.ndarray", n_centroids: int, n_iters: int = 5, seed: int = 42
) -> list[list[float]]:
    """Pure-numpy deterministic Lloyd's k-means core, shared by the Spark
    driver-sample trainer and the DuckDB-oracle centroid replication (the
    oracle re-derives identical centroids from the same rows in id order).
    Empty clusters keep their previous centroid."""
    rng = np.random.RandomState(seed)
    centroids = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    if len(centroids) >= TRAIN_TWO_LEVEL_MIN_NC:
        return _lloyd_hierarchical(X, centroids, n_iters, seed)
    # Assignment key: argmin_c ||x−c||² == argmin_c (||c||² − 2x·c) — the
    # per-row ||x||² term is constant and dropped. One GEMM into a
    # preallocated buffer, then two IN-PLACE passes; the r8 version (full
    # d2 = xx − 2G + cc) spent 14 s/call at n=1e5, nc=1563 ASSEMBLING d2
    # through ~3.7 GB of broadcast temporaries (the GEMM itself was 1.7 s;
    # r9 sweep, KNN_STAGES_r09.json — train was 78% of the sf5 knn wall).
    # Training-internal distances never need cross-engine float parity:
    # the oracle replicates centroids by running THIS function on the
    # same rows, so both engines see identical assignments by construction
    # (deterministic for a fixed input order — argmin ties break to the
    # lower centroid id in both).
    G = np.empty((len(X), len(centroids)))
    for _ in range(n_iters):
        np.dot(X, centroids.T, out=G)
        np.multiply(G, -2.0, out=G)
        G += np.einsum("ij,ij->i", centroids, centroids)[None, :]
        assign = G.argmin(axis=1)
        for c in range(len(centroids)):
            members = X[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids.tolist()


def _lloyd_hierarchical(
    X: "np.ndarray", centroids: "np.ndarray", n_iters: int, seed: int
) -> list[list[float]]:
    """Lloyd iterations with RESTRICTED assignment (r10): each iteration
    clusters the current centroids under ⌈√nc⌉ supers (a recursive flat
    `lloyd_kmeans` on nc×dim — microseconds) and assigns every sample to
    the best child of its nsp nearest supers, all through GEMM blocks —
    flops drop from sample·nc to sample·(√nc + nsp·√nc) and the 1.25 GB
    per-iteration d2 matrix disappears. This is plain hierarchical
    k-means; assignment is deterministic (stable super order, block
    argmin ties to the lower child id), and centroid parity needs no
    cross-engine story — both engines call THIS function on the same
    rows. Means update via per-dimension bincount (the flat path's
    per-cluster boolean-mask loop was O(nc·sample) per iteration).
    Empty clusters keep their previous centroid."""
    n, dim = X.shape
    nc = len(centroids)
    for _ in range(n_iters):
        ns = max(1, math.ceil(math.sqrt(nc)))
        S = np.asarray(lloyd_kmeans(centroids.copy(), ns, seed=seed))
        # child -> super: relative d2 = ||s||² − 2c·s (row term constant);
        # argmin takes the first minimum -> ties to the lower super id
        rel_cs = np.einsum("ij,ij->i", S, S)[None, :] - 2.0 * (centroids @ S.T)
        child_super = rel_cs.argmin(axis=1)
        children_of = [np.flatnonzero(child_super == s) for s in range(len(S))]
        counts = np.array([len(c) for c in children_of], dtype=np.int64)
        target = min(nc, TRAIN_SUPER_COVER)
        nsp = min(
            len(S),
            int(np.searchsorted(np.cumsum(np.sort(counts)), target) + 1),
        )
        # super ranking per sample (stable -> ties to the lower sid)
        rel_s = np.einsum("ij,ij->i", S, S)[None, :] - 2.0 * (X @ S.T)
        sp = np.argsort(rel_s, axis=1, kind="stable")[:, :nsp]
        # best child among the probed supers' children, GEMM per
        # super-run; ties: within a block argmin picks the first (= lowest
        # cid, children_of ascending); across blocks the strict < keeps
        # the earlier (lower-cid-block ordering is not guaranteed, so
        # compare (d2, cid) explicitly)
        best_d = np.full(n, np.inf)
        best_c = np.zeros(n, dtype=np.int64)
        rows_flat = np.repeat(np.arange(n), nsp)
        sup_flat = sp.ravel()
        order = np.argsort(sup_flat, kind="stable")
        s_sorted, r_sorted = sup_flat[order], rows_flat[order]
        run_starts = np.r_[0, np.flatnonzero(s_sorted[1:] != s_sorted[:-1]) + 1]
        run_ends = np.r_[run_starts[1:], len(s_sorted)]
        for st, en in zip(run_starts, run_ends):
            ch = children_of[s_sorted[st]]
            if not len(ch):
                continue
            rws = r_sorted[st:en]
            Cs = centroids[ch]
            rel = np.einsum("ij,ij->i", Cs, Cs)[None, :] - 2.0 * (X[rws] @ Cs.T)
            bi = rel.argmin(axis=1)
            bd = rel[np.arange(len(rws)), bi]
            bc = ch[bi]
            upd = (bd < best_d[rws]) | ((bd == best_d[rws]) & (bc < best_c[rws]))
            ur = rws[upd]
            best_d[ur] = bd[upd]
            best_c[ur] = bc[upd]
        cnt = np.bincount(best_c, minlength=nc)
        nz = cnt > 0
        sums = np.empty((nc, dim))
        for i in range(dim):
            sums[:, i] = np.bincount(best_c, weights=X[:, i], minlength=nc)
        centroids[nz] = sums[nz] / cnt[nz, None]
    return centroids.tolist()


def train_ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_cap: int = SAMPLE_CAP,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means on the bounded driver sample
    (`_driver_sample`: at 100 TB you train on ~10^5 hash-sampled
    vectors, never the full table). Pure numpy (no sklearn dependency);
    empty clusters keep their previous centroid. Returns ``[]`` when the
    sample holds no valid vector (empty or all-NULL input)."""
    X = _driver_sample(vectors, id_col, vec_col, sample_mod, sample_cap)
    if not len(X):
        return []
    return lloyd_kmeans(X, n_centroids, n_iters=n_iters, seed=seed)


# Per-element quantization for the distributed trainer's centroid sums:
# floor(x·2^40) is an exact IEEE op for |x| < 2^13, the exact integers sum
# through DECIMAL(38,0) (overflow-proof, order-free under any shuffle or
# reduction tree), and the driver turns each (sum, count) into a component
# via _quantized_mean — so the trainer is bit-deterministic end to end
# (the grid_lag/pagerank quantize lesson applied to k-means updates). The
# 2^-40 element quantization is far below the 9dp component round.
TRAIN_QUANT_SCALE = float(1 << 40)

# XXH64 primes (public algorithm, Collet) — Spark's xxhash64(long) is the
# 8-byte single-stripe path replicated here so the oracle can re-derive
# the distributed trainer's deterministic init sample without a JVM.
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def xxhash64_long(value: int, seed: int = 42) -> int:
    """Spark ``F.xxhash64(<long col>)`` replicated in pure python (signed
    64-bit result; pinned bit-for-bit against Spark in tests)."""
    v = value & _M64
    h = (seed + _XXH_P5 + 8) & _M64
    k1 = ((v * _XXH_P2) & _M64)
    k1 = (((k1 << 31) | (k1 >> 33)) & _M64) * _XXH_P1 & _M64
    h ^= k1
    h = ((((h << 27) | (h >> 37)) & _M64) * _XXH_P1 + _XXH_P4) & _M64
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _quantized_mean(s: int, n: int, scale: float = TRAIN_QUANT_SCALE) -> float:
    """Centroid component from the exact integer sum of floor(x·scale):
    int/int division is the correctly-rounded double of the true rational
    (deterministic), and the 9dp round is python's — fine, because BOTH
    consumers (the Spark trainer's driver-side update and the oracle
    replay) call THIS function on THE SAME integers; no cross-engine
    float surface exists."""
    return round(s / n / scale, 9)


def train_ivf_centroids_distributed(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    init_centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Fully distributed Lloyd's k-means — the 100 TB training path.

    The driver-sample trainer (`train_ivf_centroids`) is bounded but trains
    on ≤ ~1e5 vectors; this variant trains on EVERY vector without any
    driver-side materialization of the table:

    - *assign*: nearest-centroid id by `_assign` (flat, exact) — runs
      inside the scan, no join, no shuffle of the vector payload.
    - *update*: `posexplode` the vector and hash-aggregate
      (bucket, dim) → (sum, count). Map-side partial aggregation collapses
      each task to ≤ n_centroids × dim rows before the shuffle, so per
      iteration the driver receives exactly n_centroids × dim sums —
      independent of table size.

    Cost is n_iters passes over the source (re-scan, not cache: at 100 TB
    a localCheckpoint would copy the table; callers with cluster memory to
    spare can `.cache()` the projected vector column themselves).

    Per-dimension sums are EXACT integers (floor(x·TRAIN_QUANT_SCALE)
    summed through DECIMAL(38,0) — commutes under any reduction tree),
    and each component becomes `_quantized_mean(sum, count)` driver-side,
    so the trainer is bit-deterministic run-to-run AND replayable without
    a JVM (`replay_distributed_training` — the strict-oracle hook for
    ivf_topk_dist). Empty clusters keep their previous centroid (same
    policy as the driver-sample trainer). Initial centroids default to
    the n_centroids non-NULL vectors with the smallest
    (xxhash64(id, seed), id) — a deterministic, order-independent sample;
    ``[]`` when there is none.
    """
    base = vectors.select(F.col(vec_col).alias("__v"), F.col(id_col).alias("__id"))
    if init_centroids is None:
        rows = (
            # lit(seed) cast LONG so the hash is two hashLong folds —
            # replayable as xxhash64_long(seed, xxhash64_long(id, 42))
            # (an int32 literal would take Spark's 4-byte hash path)
            base.filter(F.col("__v").isNotNull())
            .select(
                "__v",
                F.xxhash64(F.col("__id"), F.lit(int(seed)).cast("long")).alias("__h"),
            )
            .orderBy("__h", "__id")
            .limit(n_centroids)
            .collect()
        )
        if not rows:
            return []
        centroids = [[float(x) for x in r["__v"]] for r in rows]
    else:
        centroids = [list(map(float, c)) for c in init_centroids]
    for _ in range(n_iters):
        bucketed = _assign(base.select("__v"), "__v", centroids).select(
            F.col("__probes")[0].alias("__b"), "__v"
        )
        # assignment and posexplode in separate selects: a generator next to
        # a struct-subscript expression makes the analyzer resolve the
        # subscript against the generator's (col1, col2) output struct
        stats = (
            bucketed
            .select("__b", F.posexplode("__v").alias("__dim", "__x"))
            .groupBy("__b", "__dim")
            # count the VALUE, not the row: null elements are skipped by the
            # sum, so dividing by a row count would dilute that dimension's
            # mean (and per-bucket counts can differ across dims)
            .agg(
                F.sum(
                    F.floor(
                        F.col("__x").cast("double") * F.lit(TRAIN_QUANT_SCALE)
                    ).cast("decimal(38,0)")
                ).alias("__s"),
                F.count("__x").alias("__n"),
            )
            .collect()
        )
        sums: dict[int, dict[int, tuple]] = {}
        for r in stats:
            s = int(r["__s"]) if r["__s"] is not None else None
            sums.setdefault(r["__b"], {})[r["__dim"]] = (s, r["__n"])
        for c, dims in sums.items():
            centroids[c] = [
                # all-null dim: keep the previous component
                _quantized_mean(s, n) if n else centroids[c][i]
                for i, (s, n) in sorted(dims.items())
            ]
    return centroids


def replay_distributed_training(
    ids,
    vectors,
    n_centroids: int = 16,
    n_iters: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """Bit-exact JVM-free replay of `train_ivf_centroids_distributed` for
    the DuckDB oracle (the pagerank_longs pattern): same deterministic
    init (smallest (xxhash64(id, seed), id)), same per-iteration nearest-
    centroid assignment (the left-associated (x−c)·(x−c) column fold with
    stable-argsort (d2, cid) ties — byte-identical to both the expression
    and Arrow paths, which the strict gates prove end-to-end), same exact
    integer sums of floor(x·TRAIN_QUANT_SCALE), and the SAME
    `_quantized_mean` on the same integers.

    Assumes valid fixed-dimension vectors (the gated corpora contain no
    null/ragged embeddings; the Spark trainer's behavior for those is
    engine-side and not replayed here)."""
    import numpy as np

    if len(ids) == 0:
        return []
    order = sorted(
        range(len(ids)),
        # the trainer's F.xxhash64(id, lit(seed)::long): two hashLong
        # folds, Spark's default seed 42 starting the chain
        key=lambda i: (
            xxhash64_long(int(seed), xxhash64_long(int(ids[i]), 42)),
            int(ids[i]),
        ),
    )
    centroids = [
        [float(x) for x in vectors[i]] for i in order[: int(n_centroids)]
    ]
    X = _stack_vectors(vectors)
    q_int = np.floor(X * TRAIN_QUANT_SCALE).astype(np.int64)
    n_rows, dim = X.shape
    # overflow envelope (ADVICE r11): the Spark trainer sums through
    # DECIMAL(38,0); this replay sums int64 — fail LOUDLY if a cluster
    # sum could approach 2^63 instead of silently wrapping into a wrong
    # accepted golden
    max_abs = int(np.abs(q_int).max()) if q_int.size else 0
    if max_abs * n_rows >= (1 << 62):
        raise ValueError(
            "replay_distributed_training: quantized-sum envelope exceeded "
            f"(max|q|={max_abs}, n_rows={n_rows}); the int64 replay cannot "
            "mirror the trainer's DECIMAL(38,0) sums for this corpus"
        )
    for _ in range(n_iters):
        C = np.asarray(centroids, dtype=np.float64)
        nc = len(C)
        acc = np.zeros((n_rows, nc))
        for i in range(dim):
            d = X[:, i, None] - C[None, :, i]
            acc = acc + d * d
        assign = np.argsort(acc, axis=1, kind="stable")[:, 0]
        for c in range(nc):
            mask = assign == c
            n = int(mask.sum())
            if n == 0:
                continue  # empty cluster keeps its previous centroid
            s = q_int[mask].sum(axis=0)  # exact: |terms| ≤ 2^43, n ≤ ~1e5
            centroids[c] = [_quantized_mean(int(s[i]), n) for i in range(dim)]
    return centroids


def _bucket_structs(vec_col: str, centroids: list[list[float]]):
    """Array of (squared-distance-to-centroid, centroid-id) structs.
    Distances via `_d2_mul_expr` (multiplication, not pow) so assignment
    compares bit-agree with the DuckDB oracles."""
    entries = [
        F.struct(_d2_mul_expr(vec_col, c).alias("d2"), F.lit(i).alias("c"))
        for i, c in enumerate(centroids)
    ]
    return F.array_sort(F.array(*entries))


# Below this many centroids the plan-literal `_bucket_structs` expression
# path wins (no Arrow transfer, runs inside the scan, keeps the pinned
# plan shapes of the small-index tests); at or above it the interpreted
# HOF expression count — rows × nc × dim lambda evals — dominates the
# whole operator (r9: the r8 auto_graph_params nc=313 at sf1 spent 21 s
# of knn_graph's 71 s in assignment alone) and the Arrow path below
# replaces it at identical output bytes.
ARROW_ASSIGN_MIN_NC = 16


def assign_probes_arrow(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int,
    with_d2: bool = False,
) -> DataFrame:
    """``df`` + ``__probes array<int>`` (the ``nprobe`` nearest centroid
    ids, ascending by (d2, centroid id)) and optionally ``__d2 double``
    (distance to the nearest) — the `mapInPandas` twin of

        transform(slice(_bucket_structs(vec), 1, nprobe), s -> s.c)

    at numpy speed. BYTE-IDENTICAL to the expression path, which the
    strict DuckDB gates prove end-to-end: per (row, centroid) the squared
    distance is the same left-associated float64 fold — acc += (x_i −
    c_i)·(x_i − c_i), i ascending, elementwise across the (rows × nc)
    matrix — and ranking uses a stable argsort on d2 (ties to the lower
    centroid id, exactly `array_sort`'s (d2, c) struct order). Null or
    wrong-dimension vectors mirror the expression path's null-d2
    behavior: nulls sort first, all-tied ⇒ probes = [0..nprobe), d2 null
    (verified against Spark; such rows are dropped by every downstream
    scorer anyway).

    Scale shape: centroids ship once per task inside the serialized
    closure (nc × dim doubles — the auto policies keep this ≲ a few MB
    at any corpus size); work is embarrassingly parallel over input
    partitions, O(rows × nc × dim) flops in ~dim vectorized passes with
    O(batch × nc) memory; output adds nprobe ints per row, never a
    per-centroid row explosion."""
    C = np.asarray(centroids, dtype=np.float64)
    nc, dim = C.shape
    npb = min(int(nprobe), nc)
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{fields}, __probes array<int>"
    if with_d2:
        schema += ", __d2 double"
    null_probes = list(range(npb))

    def run(batches):
        for pdf in batches:
            vals = pdf[vec_col]
            n = len(pdf)
            ok = np.array(
                [v is not None and len(v) == dim for v in vals], dtype=bool
            )
            probes_out: list = [null_probes] * n
            d2_out = [None] * n
            if ok.any():
                X = np.vstack(vals.values[ok]).astype(np.float64)
                acc = np.zeros((len(X), nc))
                for i in range(dim):
                    d = X[:, i, None] - C[None, :, i]
                    acc = acc + d * d
                order = np.argsort(acc, axis=1, kind="stable")[:, :npb]
                ok_idx = np.flatnonzero(ok)
                for j, row in enumerate(ok_idx):
                    probes_out[row] = order[j].tolist()
                if with_d2:
                    nearest = acc[np.arange(len(X)), order[:, 0]]
                    for j, row in enumerate(ok_idx):
                        d2_out[row] = float(nearest[j])
            out = pdf.copy()
            out["__probes"] = probes_out
            if with_d2:
                out["__d2"] = d2_out
            yield out

    return df.mapInPandas(run, schema=schema)


# Two-level (coarse-quantized) assignment engages at/above this index
# size. Below it the flat scan of all nc centroids is already cheap and
# the extra super-level pass + restricted candidate bookkeeping would
# cost more than it saves; above it assignment flops drop from
# rows × nc to rows × (√nc + nsp·√nc) — the last ∝ n² term in the
# graph family once nc grows ∝ N (SCALING_r09.md; VERDICT r9 #1).
TWO_LEVEL_MIN_NC = 64

# Worst-case child-coverage multiple for the super-probe count: probe
# enough supers that ANY nsp of them contain >= SUPER_COVERAGE × nprobe
# child centroids, so probe lists are always full and near-boundary
# children are rarely missed. 6, from the r10 measured frontier
# (TWO_LEVEL_FRONTIER_r10.md): on the
# clustered corpus (the realistic shape) recall is IDENTICAL to the
# flat ranking at every coverage >= 2 (supers capture real structure);
# on the structureless gaussian corpus — the adversarial case, nothing
# for supers to latch onto — coverage 6 keeps sf1 recall at flat parity
# (0.6855 vs 0.6878) and concedes 0.05 at sf5 (0.635 vs 0.689, floor
# 0.45), while assignment stays ∝ √nc + 6·nprobe flops per row — the
# asymptotic win over the flat scan still grows as nc^(1/3)/6.
SUPER_COVERAGE = 6


def two_level_engages(n_centroids: int, nprobe: int, coverage: int | None = None) -> bool:
    """True iff two-level assignment actually RESTRICTS for this
    (nc, nprobe): the worst-case coverage target must be below nc, or the
    nsp rule selects every super and the second level is pure overhead
    over the flat scan (observed: the forced gate row ran 2.9× slower
    vacuous). Under the auto probe policy (nprobe = nc^(2/3)) this
    resolves to nc > coverage³. Shared by the operators AND the entry
    oracle so the engagement decision can never desync."""
    if coverage is None:
        coverage = SUPER_COVERAGE
    nc = int(n_centroids)
    return nc >= TWO_LEVEL_MIN_NC and int(coverage) * min(int(nprobe), nc) < nc


def two_level_index(
    centroids: list[list[float]],
    nprobe: int,
    seed: int = 42,
    coverage: int | None = None,
) -> dict:
    """Group an IVF index's child centroids under ⌈√nc⌉ super-centroids
    (k-means ON THE CENTROIDS — driver-side, nc × dim, microseconds) and
    derive the fixed super-probe count ``nsp``.

    Returns ``{"supers", "child_super", "nsp"}``. Everything is a pure
    deterministic function of (centroids, nprobe, seed), so the DuckDB
    oracle re-derives the IDENTICAL structure by calling this function on
    its replicated centroids — training-internal floats never need
    cross-engine parity (CLAUDE.md); only the per-row d2 folds computed
    downstream do.

    ``nsp`` is the smallest s such that the s SMALLEST super child-counts
    sum to >= min(nc, coverage·nprobe): a worst-case guarantee that every
    row's restricted candidate set holds at least nprobe children (probe
    lists never come up short), with `coverage`× headroom for recall."""
    if coverage is None:
        coverage = SUPER_COVERAGE  # late-bound: entry, oracle and tests
        # all read the same module global, so a tuned value cannot desync
    C = np.asarray(centroids, dtype=np.float64)
    nc = len(C)
    ns = max(1, math.ceil(math.sqrt(nc)))
    supers = lloyd_kmeans(C.copy(), ns, seed=seed)
    S = np.asarray(supers, dtype=np.float64)
    # child -> nearest super, ties to the lower super id (np.argmin takes
    # the first minimum). Same left-associated (x−c)·(x−c) fold as every
    # assignment in this module — not that it matters cross-engine here
    # (both engines consume THIS function's output), but it keeps the
    # semantics uniform.
    acc = np.zeros((nc, len(S)))
    for i in range(C.shape[1]):
        d = C[:, i, None] - S[None, :, i]
        acc = acc + d * d
    child_super = acc.argmin(axis=1)
    counts = np.sort(np.bincount(child_super, minlength=len(S)))
    target = min(nc, int(coverage) * min(int(nprobe), nc))
    nsp = int(np.searchsorted(np.cumsum(counts), target) + 1)
    return {
        "supers": [list(map(float, s)) for s in supers],
        "child_super": [int(c) for c in child_super],
        "nsp": min(len(S), max(1, nsp)),
    }


def assign_probes_two_level(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int,
    index: dict,
    with_d2: bool = False,
) -> DataFrame:
    """Two-level twin of `assign_probes_arrow`: rank the ⌈√nc⌉
    super-centroids first, then score ONLY the child centroids of the
    ``nsp`` nearest supers — per-row flops drop from nc·dim to
    (√nc + nsp·√nc)·dim, the escape from the graph family's last ∝ n²
    term (nc grows ∝ N under `auto_graph_params`).

    Semantics (both engines derive them identically):
      - super ranking: same (x−s)·(x−s) left fold, stable order
        (d2s asc, super id asc), top ``nsp`` — worst-case child coverage
        >= nprobe by `two_level_index`'s nsp rule.
      - child ranking: same (x−c)·(x−c) left fold over the RESTRICTED
        candidate set, order (d2 asc, child id asc), top ``nprobe``.
        probes[0] is the member bucket (nearest RESTRICTED child — for a
        near-boundary row this may differ from the global argmin; that is
        the two-level semantics, mirrored exactly by the oracle SQL).
      - null / wrong-dimension vectors: probes = [0..nprobe), d2 null
        (the `assign_probes_arrow` contract; every scorer drops them).

    Each per-(row, centroid) d2 is the identical left-associated float64
    fold as the flat path and the DuckDB list_sum comprehension, computed
    elementwise in super-grouped blocks (grouping cannot change a
    per-element result) — so the strict gates hold byte-exactly.

    Scale shape: the closure ships (nc + ns) × dim doubles once per task;
    work is embarrassingly parallel, O(rows × (ns + nsp·nc/ns) × dim)
    flops; per-batch candidate memory is rows × nsp × (nc/ns) entries —
    ~coverage·nprobe per row, never a per-centroid explosion."""
    C = np.asarray(centroids, dtype=np.float64)
    S = np.asarray(index["supers"], dtype=np.float64)
    child_super = np.asarray(index["child_super"], dtype=np.int64)
    nsp = int(index["nsp"])
    nc, dim = C.shape
    ns = len(S)
    npb = min(int(nprobe), nc)
    children_of = [np.flatnonzero(child_super == s) for s in range(ns)]
    counts = np.array([len(c) for c in children_of], dtype=np.int64)
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{fields}, __probes array<int>"
    if with_d2:
        schema += ", __d2 double"
    null_probes = list(range(npb))
    # row sub-chunks bound the padded candidate matrix at
    # CH × (nsp · max children) doubles — tens of MB regardless of the
    # Arrow batch size
    CH = 2048

    def _chunk(X):
        """(probes (n, npb) int, nearest-d2 (n,)) for a dense row chunk."""
        n_ok = len(X)
        # super level: same left fold, stable top-nsp (ties → lower sid)
        accs = np.zeros((n_ok, ns))
        for i in range(dim):
            d = X[:, i, None] - S[None, :, i]
            accs = accs + d * d
        sp = np.argsort(accs, axis=1, kind="stable")[:, :nsp]
        # scatter layout: row-major padded candidate matrix. within[r, p]
        # is the first column of probe-p's children for row r; +inf pads
        # keep unselected cells out of every ranking below.
        ccounts = counts[sp]  # (n_ok, nsp)
        within = np.cumsum(ccounts, axis=1) - ccounts  # exclusive cumsum
        W = int((within[:, -1] + ccounts[:, -1]).max()) if n_ok else 0
        pad_d2 = np.full((n_ok, W), np.inf)
        pad_cid = np.zeros((n_ok, W), dtype=np.int64)
        # child level, grouped by probed super: score each super's
        # children against exactly the rows that probe it
        rows_flat = np.repeat(np.arange(n_ok), nsp)
        sup_flat = sp.ravel()
        pos_flat = np.tile(np.arange(nsp), n_ok)
        order = np.argsort(sup_flat, kind="stable")
        s_sorted = sup_flat[order]
        r_sorted = rows_flat[order]
        p_sorted = pos_flat[order]
        run_starts = np.r_[0, np.flatnonzero(s_sorted[1:] != s_sorted[:-1]) + 1]
        run_ends = np.r_[run_starts[1:], len(s_sorted)]
        for st, en in zip(run_starts, run_ends):
            ch = children_of[s_sorted[st]]
            if not len(ch):
                continue
            rws = r_sorted[st:en]
            Xs, Cs = X[rws], C[ch]
            acc = np.zeros((len(rws), len(ch)))
            for i in range(dim):
                d = Xs[:, i, None] - Cs[None, :, i]
                acc = acc + d * d
            dest = within[rws, p_sorted[st:en]][:, None] + np.arange(len(ch))[None, :]
            pad_d2[rws[:, None], dest] = acc
            pad_cid[rws[:, None], dest] = ch[None, :]
        # top-npb by (d2, cid): np.partition finds each row's npb-th
        # smallest VALUE in O(W); every candidate with d2 <= that value is
        # kept (a superset of the lexicographic top-npb — d2 ties at the
        # boundary are all included), and only this ~npb-per-row sliver is
        # lexsorted with the exact (d2 asc, cid asc) key. Replaces the r10
        # first-cut global 3-key lexsort over ALL candidates, which was
        # 55% of the kernel at sf5 (39.6 s of 72 single-threaded).
        kth = np.partition(pad_d2, npb - 1, axis=1)[:, npb - 1]
        ri, ci = np.nonzero(pad_d2 <= kth[:, None])
        dsel = pad_d2[ri, ci]
        csel = pad_cid[ri, ci]
        sel = np.lexsort((csel, dsel, ri))
        rs, cs_, ds_ = ri[sel], csel[sel], dsel[sel]
        starts = np.r_[0, np.flatnonzero(rs[1:] != rs[:-1]) + 1]
        grp_len = np.diff(np.r_[starts, len(rs)])
        rank_in_grp = np.arange(len(rs)) - np.repeat(starts, grp_len)
        mask = rank_in_grp < npb
        # coverage rule guarantees >= npb candidates per row, so the
        # masked set is a dense (n_ok, npb) matrix in row order
        return cs_[mask].reshape(n_ok, npb), ds_[mask].reshape(n_ok, npb)[:, 0]

    def run(batches):
        for pdf in batches:
            vals = pdf[vec_col]
            n = len(pdf)
            ok = np.array(
                [v is not None and len(v) == dim for v in vals], dtype=bool
            )
            probes_out: list = [null_probes] * n
            d2_out = [None] * n
            if ok.any():
                X = np.vstack(vals.values[ok]).astype(np.float64)
                ok_idx = np.flatnonzero(ok)
                for cs0 in range(0, len(X), CH):
                    pm, nearest = _chunk(X[cs0:cs0 + CH])
                    for j in range(len(pm)):
                        row = ok_idx[cs0 + j]
                        probes_out[row] = pm[j].tolist()
                        if with_d2:
                            d2_out[row] = float(nearest[j])
            out = pdf.copy()
            out["__probes"] = probes_out
            if with_d2:
                out["__d2"] = d2_out
            yield out

    return df.mapInPandas(run, schema=schema)


def _assign(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int = 1,
    two_level: dict | None = None,
    with_d2: bool = False,
    explode: bool = False,
) -> DataFrame:
    """THE nearest-centroid assignment of the IVF family: ``df`` +
    ``__probes array<int>`` (the ``nprobe`` nearest centroid ids by
    (d2, centroid id)) and, ``with_d2``, ``__d2`` (the nearest d2).
    ``explode=True`` (the probing side of a bucket join) returns one row
    per probe with its id in ``__bucket`` instead of ``__probes``.

    The path is chosen here and only here, at identical output bytes:
    the plan-literal `_bucket_structs` expression below
    ARROW_ASSIGN_MIN_NC centroids, `assign_probes_arrow` at or above it,
    and `assign_probes_two_level` only when handed a ``two_level`` index
    (`_ivf_index` builds one when `two_level_engages`; the exact
    nearest-centroid callers never pass one). On the expression path a
    single probe is ``array(nearest.c)``, which Catalyst folds back to
    ``nearest.c`` under the caller's ``__probes[0]``, and the explode
    reads the expression itself: exploding a projected ``__probes``
    column makes Catalyst infer ``size(__probes) > 0``, push it below the
    projection and evaluate the whole assignment twice."""
    if two_level is not None:
        out = assign_probes_two_level(df, vec_col, centroids, nprobe, two_level, with_d2)
    elif len(centroids) >= ARROW_ASSIGN_MIN_NC:
        out = assign_probes_arrow(df, vec_col, centroids, nprobe, with_d2)
    else:
        ranked = _bucket_structs(vec_col, centroids)
        probes = (
            F.array(ranked[0]["c"])
            if nprobe == 1
            else F.transform(F.slice(ranked, 1, nprobe), lambda s: s["c"])
        )
        if explode:
            return df.select("*", F.explode(probes).alias("__bucket"))
        d2 = [ranked[0]["d2"].alias("__d2")] if with_d2 else []
        return df.select("*", probes.alias("__probes"), *d2)
    if explode:
        return out.select(*df.columns, F.explode("__probes").alias("__bucket"))
    return out


def _ivf_index(
    vectors: DataFrame,
    n_centroids: int | None,
    nprobe: int | None,
    *,
    id_col: str,
    vec_col: str,
    seed: int,
    centroids: list[list[float]] | None = None,
    sample_mod: int | None = None,
    train_distributed: bool = False,
    n_iters: int = 5,
    auto_nc=None,
    auto_nprobe=None,
    two_level: bool = True,
) -> tuple | None:
    """THE index build of the IVF family: take pretrained ``centroids``,
    or train them (fully distributed, or on the bounded driver sample),
    then resolve the probe count. Returns ``(centroids, nprobe, index)``
    — ``index`` the two-level index when ``two_level`` and
    `two_level_engages`, else None — or None when the corpus holds no
    valid vector (empty or all-NULL input: callers return their empty
    result).

    The corpus is counted at most once: ``n_centroids=None`` takes
    ``auto_nc(n)``, ``nprobe=None`` takes ``auto_nprobe(n)`` (or, without
    one, `_graph_nprobe` of the realized index), and the driver-sample
    trainer gets ``_sample_mod(n)``; ``n == 0`` is the emptiness
    test. Only when no size is needed (pretrained centroids, or explicit
    parameters with a given ``sample_mod`` or distributed training) does
    one cheap ``first()`` over the non-NULL vectors test for emptiness
    instead."""
    train = centroids is None
    need_n = (nprobe is None and auto_nprobe is not None) or (
        train and (n_centroids is None or (sample_mod is None and not train_distributed))
    )
    n = None
    if need_n:
        n = vectors.count()
        if n == 0:
            return None
    elif vectors.select(vec_col).filter(F.col(vec_col).isNotNull()).first() is None:
        return None
    if train:
        if n_centroids is None:
            n_centroids = auto_nc(n)
        if train_distributed:
            centroids = train_ivf_centroids_distributed(
                vectors, n_centroids, n_iters, id_col=id_col, vec_col=vec_col, seed=seed
            )
        else:
            centroids = train_ivf_centroids(
                vectors, n_centroids, n_iters, id_col=id_col, vec_col=vec_col, seed=seed,
                sample_mod=sample_mod if sample_mod is not None else _sample_mod(n),
            )
        if not centroids:
            return None
    if nprobe is None:
        nprobe = auto_nprobe(n) if auto_nprobe else _graph_nprobe(len(centroids))
    nprobe = min(int(nprobe), len(centroids))
    index = (
        two_level_index(centroids, nprobe, seed=seed)
        if two_level and two_level_engages(len(centroids), nprobe)
        else None
    )
    return centroids, nprobe, index


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int | None = 16,
    nprobe: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    sample_mod: int | None = None,
    train_distributed: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: vectors are bucketed by their
    nearest k-means centroid; each query probes only its `nprobe` nearest
    buckets. Candidate count drops by ~n_centroids/nprobe at recall < 1.

    Centroids are tiny literals baked into the plan (broadcast by value);
    bucket assignment (`_assign`) runs inside the scan — the only join is
    queries x same-bucket vectors.

    Training is bounded by default (`_ivf_index`): the driver sample stays
    ≤ ~1e5 vectors regardless of table size; `train_distributed=True`
    trains on every vector with zero driver-side table materialization
    (`train_ivf_centroids_distributed`); pass pretrained `centroids` to
    skip training entirely.

    ``n_centroids=None`` / ``nprobe=None`` derive the index shape from
    the corpus size at plan time (`auto_ann_params`: √n centroids, a
    quarter of them probed — the recall-stable default as corpora
    scale)."""
    built = _ivf_index(
        vectors, n_centroids, nprobe, id_col=id_col, vec_col=vec_col, seed=seed,
        centroids=centroids, sample_mod=sample_mod,
        train_distributed=train_distributed,
        auto_nc=lambda n: auto_ann_params(n)["n_centroids"],
        auto_nprobe=lambda n: auto_ann_params(n)["nprobe"],
    )
    if built is None:
        return _empty_topk(vectors, id_col)
    centroids, nprobe, index = built
    v = _assign(
        vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vv")),
        "__vv", centroids, 1, index,
    ).select(
        "neighbor_id", "__vv", _norm(F.col("__vv")).alias("__vn"),
        F.col("__probes")[0].alias("__bucket"),
    )
    q = _assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")),
        "__qv", centroids, nprobe, index, explode=True,
    ).select("query_id", "__qv", _norm(F.col("__qv")).alias("__qn"), "__bucket")
    pairs = v.join(F.broadcast(q), "__bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    return _score_and_rank(pairs, k)


# Default mean bucket size for the cogrouped graph family (knn_graph /
# ann_join). 64, not 256: the committed frontier (ANN_FRONTIER_r08.md)
# shows finer buckets strictly dominate at every
# fixed pair budget on the structureless synthetic corpus — at sf1 and
# ~10M pairs, bucket 64 (nc=313, np=8) reaches recall 0.303 vs bucket 256
# (nc=79, np=2) at 0.193; at ~20M pairs 0.431 vs 0.303 — because a finer
# index targets candidates better AND caps skew exposure (max bucket 89
# vs 297 at sf1) AND gives the cogroup shuffle nc-way parallelism.
GRAPH_BUCKET_TARGET = 64


def auto_graph_params(n: int, bucket_target: int = GRAPH_BUCKET_TARGET) -> dict:
    """Scale policy for the bucket-cogrouped graph family (r8, VERDICT
    r6 #1 — replaces the fixed nc=8/nprobe=2 entry parameterization whose
    candidate work was ~n²/4 at any scale):

    - ``n_centroids`` = ceil(n / bucket_target) — ∝N buckets of constant
      mean size (the SemDeDup sizing rule): bounded per-bucket matrices,
      skew exposure and shuffle granularity no matter the corpus size.
    - ``nprobe`` = max(4, ceil(nc^(2/3))) — the probed FRACTION shrinks
      as nc^(-1/3), so per-query candidates grow ~bucket·nc^(2/3)
      (sublinear) and total pair work ∝ n^(5/3), not n². Measured on the
      committed frontier (ANN_FRONTIER_r08.md): recall@5 0.78 / 0.72 /
      0.69 at n=500 / 2k / 20k — flat-ish where a FIXED nprobe decays
      (0.44 → 0.30) and the fixed-nc policy needs n²/4 pairs for less
      recall (0.506 at 100M pairs vs 0.688 at 60M, n=20k). On clustered
      real corpora (the 100 TB case) the same shape does strictly
      better — IVF recall there comes from structure, not coverage.

    Callers opt in by passing ``n_centroids=None, nprobe=None`` to
    `knn_graph` / `ann_join` (their entry parameterization since r8)."""
    nc = max(1, -(-int(n) // int(bucket_target)))
    return {"n_centroids": nc, "nprobe": _graph_nprobe(nc)}


def _graph_nprobe(n_centroids: int) -> int:
    return min(int(n_centroids), max(4, math.ceil(n_centroids ** (2.0 / 3.0))))


# Default mean cluster size for semantic_dedup's nc=None auto policy.
# Coarser than GRAPH_BUCKET_TARGET on purpose: SemDeDup only COMPARES
# within a cluster (a duplicate pair split across clusters is missed
# outright — there is no nprobe to recover it), so dedup recall wants the
# largest clusters the pair scorer can afford. 512 keeps per-cluster pair
# matrices ~512²/2 ≈ 131k (a single chunk block for the cogrouped numpy
# scorer), total pair work ≈ 256·N (linear), and the ~2.5 ms/group Arrow
# dispatch negligible (N/512 groups, vs N/64 at the graph target).
SEMDEDUP_CLUSTER_TARGET = 512


def semdedup_n_clusters(n: int) -> int:
    """THE semantic_dedup cluster-count policy for ``n_clusters=None`` —
    the single source of truth shared by `semantic_dedup` itself, the
    entry oracle helper (`__spark_entry__._semantic_dedup_clusters`) and
    the tests, so a future policy tweak (a floor, a cap) cannot desync
    oracle vs query cluster counts (ADVICE r9). Reads the module-level
    SEMDEDUP_CLUSTER_TARGET at call time (monkeypatch-friendly)."""
    return max(1, -(-int(n) // int(SEMDEDUP_CLUSTER_TARGET)))


def knn_graph(
    vectors: DataFrame,
    k: int = 10,
    n_centroids: int | None = 16,
    nprobe: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    sample_mod: int | None = None,
    train_distributed: bool = False,
    bucket_target: int = GRAPH_BUCKET_TARGET,
) -> DataFrame:
    """Corpus-vs-corpus approximate kNN graph: every vector is a query AND
    a candidate — the self-join top-k shape (global kNN graphs for
    clustering, graph-based dedup, link prediction) that the
    broadcast-query `*_topk` family cannot express because neither side is
    small.

    IVF-bucketed: vectors are bucketed by nearest k-means centroid; each
    vector probes its ``nprobe`` nearest buckets and scores only their
    members. Scoring is a bucket-COGROUPED ``applyInPandas``: members and
    probes shuffle ONCE each on the bucket id (each vector payload ships
    once per bucket side, never once per candidate pair) and numpy scores
    the per-bucket pair matrix in chunked outer-product accumulations —
    bit-identical to the column fold (same left-associated float64 adds,
    verified by the strict DuckDB gate) at vectorized speed. Candidate
    volume is ~N·nprobe·(N/n_centroids) instead of N²: with n_centroids
    grown ∝ N (the SemDeDup sizing rule) per-bucket work stays bounded; a
    hot bucket degrades to |bucket|² *work* inside chunked
    constant-memory matrices, never a cartesian or an OOM.

    ``nprobe=n_centroids`` probes every bucket — exact kNN at quadratic
    cost (differential-test anchor). Scores are exact 6dp-rounded cosines
    (only candidate COVERAGE is approximate); ranking ties break by
    neighbor_id. Zero-norm vectors are excluded (undefined cosine), both
    as queries and as neighbors. Assumes a fixed embedding dimension.

    Output: (query_id, neighbor_id, cosine, rank), rank <= k.
    """
    # n_centroids=None sizes buckets to the corpus (∝ N, `auto_graph_params`)
    # so per-bucket pair work stays bounded as the table grows; nprobe=None
    # is its probe rule on the realized index size
    built = _ivf_index(
        vectors, n_centroids, nprobe, id_col=id_col, vec_col=vec_col, seed=seed,
        centroids=centroids, sample_mod=sample_mod,
        train_distributed=train_distributed,
        auto_nc=lambda n: auto_graph_params(n, bucket_target)["n_centroids"],
    )
    if built is None:
        return _empty_topk(vectors, id_col)
    centroids, nprobe, index = built
    # one assignment pass feeds BOTH cogroup branches: probes[0] is the
    # member bucket, the full slice is the probe list — materialized so the
    # scan + centroid distances run once, not per branch
    base = vectors.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    assigned = materialize(_assign(base, "__v", centroids, nprobe, index))
    members = assigned.select(
        "__id", "__v", F.col("__probes")[0].alias("__bucket")
    )
    # alias EVERY probe-side column: both cogroup branches derive from the
    # same `assigned` frame, so unaliased columns share expression ids and
    # Catalyst prunes the right child down to its only unique attribute
    # (observed: the right pdf arrived with just __bucket) — the cogroup
    # variant of the self-join aliasing rule
    probes = assigned.select(
        F.col("__id").alias("__qid"),
        F.col("__v").alias("__qv"),
        F.explode("__probes").alias("__bucket"),
    )
    id_t = dict(vectors.dtypes).get(id_col, "bigint")
    return _cogrouped_bucket_topk(
        members, probes, k, id_t, exclude_self=True, dim=len(centroids[0])
    )


def _cogrouped_bucket_topk(
    members: DataFrame,
    probes: DataFrame,
    k: int,
    id_t: str,
    exclude_self: bool,
    dim: int,
) -> DataFrame:
    """Shared bucket-cogrouped scoring/ranking tail for the large-large
    ANN shapes (`knn_graph`, `ann_join`). members: (__id, __v, __bucket);
    probes: (__qid, __qv, __bucket) — both sides shuffle once on the
    bucket id, numpy scores per-bucket chunked pair matrices with the
    exact `_dot` fold order, and the final per-query top-k ranks on the
    6dp-rounded cosine with neighbor_id tie-breaks.

    Hot-bucket memory bound: the scoring matrices are CHUNK²-bounded, but
    a skewed bucket (all vectors in one cluster) would otherwise buffer
    |members|·|probes| candidate rows before returning. The scorer
    therefore prunes its buffer to each query's bucket-local top-k
    whenever it exceeds PRUNE_AT rows, keeping every row whose UNROUNDED
    cosine is within TOPK_MARGIN of the query's k-th best so far. The
    margin (2e-6) exceeds the largest perturbation 6dp HALF_UP rounding
    can introduce between two rows that compare differently after
    rounding + neighbor_id tie-breaks (2·5e-7 + ulp), so Spark's exact
    rounded ranking over the pruned survivors is IDENTICAL to ranking the
    full candidate set — the strict DuckDB gate proves it. Task memory is
    O(PRUNE_AT + CHUNK²) regardless of bucket size; a hot bucket costs
    quadratic WORK, never quadratic memory."""
    exp_dim = dim  # closure alias: _score_bucket reuses the name `dim` locally
    out_schema = f"query_id {id_t}, neighbor_id {id_t}, __cos double"
    CHUNK = 2048  # bounds the pair matrix at CHUNK^2 doubles per step
    prune_at, margin = PRUNE_AT, TOPK_MARGIN  # snapshot for the closure
    # PRUNE_AT >= 2^60 disables pruning entirely (incl. the final output
    # prune) — the pre-r4 scorer, kept reachable for A/B benchmarking
    do_prune = prune_at < (1 << 60)

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        # bucket-local top-k guard (UNROUNDED cosines, margin-safe): keep
        # rows within TOPK_MARGIN of each query's k-th best so far; queries
        # with fewer than k candidates keep everything. Pure numpy lexsort
        # (r5): the pandas groupby().nlargest() formulation cost 1.34x on
        # even buckets (interleaved A/B, BENCH_NOTES_r05.md) — this
        # keeps identical semantics (kth best = value at in-group rank k-1
        # descending == min of the top-k) at a fraction of the constant.
        if pdf.empty:
            return pdf
        q = pdf["query_id"].to_numpy()
        c = pdf["__cos"].to_numpy()
        order = np.lexsort((-c, q))  # group by query, cosine descending
        qs, cs = q[order], c[order]
        starts = np.r_[0, np.flatnonzero(qs[1:] != qs[:-1]) + 1]
        grp_len = np.diff(np.r_[starts, len(qs)])
        kth = cs[starts + np.minimum(int(k) - 1, grp_len - 1)]
        keep_sorted = cs >= np.repeat(kth - margin, grp_len)
        keep = np.empty(len(qs), dtype=bool)
        keep[order] = keep_sorted
        return pdf[keep]

    def _score_bucket(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = members of this bucket, right = probes targeting it.
        # r7: selection happens IN NUMPY on the chunk matrices — the pre-r7
        # scorer materialized EVERY candidate pair as pandas rows before
        # pruning, and at sf1 (1e8 candidates) that row traffic, not the
        # flops, was ~80% of knn_graph's 30 s. Each chunk now updates a
        # per-query running top-k value table and emits only entries within
        # TOPK_MARGIN of the query's k-th best so far; the survivor set is
        # provably a superset of the final margin-prune survivors (the
        # running k-th best only rises), so the closing `_prune` yields the
        # IDENTICAL output rows — the strict DuckDB gates prove it.
        empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "__cos": []})
        if left.empty or right.empty:
            return empty

        def prep(pdf, id_c, v_c):
            # null and wrong-dimension vectors carry no defined cosine —
            # drop them like zero-norm rows instead of crashing np.vstack
            ok = np.array(
                [v is not None and len(v) == exp_dim for v in pdf[v_c]], dtype=bool
            )
            ids = pdf[id_c].values[ok]
            if not ok.any():
                return ids, np.zeros((0, 1)), np.zeros(0)
            X = np.vstack(pdf[v_c].values[ok]).astype(np.float64)
            # norm via the same left-fold order as `_norm`
            nsq = np.zeros(len(X))
            for i in range(X.shape[1]):
                nsq = nsq + X[:, i] * X[:, i]
            nz = nsq > 0.0
            return ids[nz], X[nz], np.sqrt(nsq[nz])

        m_ids, M, m_n = prep(left, "__id", "__v")
        q_ids, Q, q_n = prep(right, "__qid", "__qv")
        if not len(m_ids) or not len(q_ids):
            return empty
        dim = M.shape[1]
        nq = len(q_ids)
        # per-query running top-k UNROUNDED cosines (−inf padded: queries
        # with < k candidates have a −inf k-th best ⇒ keep everything)
        topvals = np.full((nq, int(k)), -np.inf)
        kq: list[np.ndarray] = []  # survivor query ROW indices (into q_ids)
        km: list[np.ndarray] = []  # survivor member ids
        kc: list[np.ndarray] = []  # survivor unrounded cosines
        buffered = 0

        def recompact():
            # re-threshold the buffered survivors against the CURRENT
            # running k-th best (exact, margin-safe) — bounds survivor
            # memory at O(PRUNE_AT) under hot-bucket skew
            nonlocal kq, km, kc, buffered
            q_all = np.concatenate(kq)
            m_all = np.concatenate(km)
            c_all = np.concatenate(kc)
            thr = topvals.min(axis=1) - margin
            keep = c_all >= thr[q_all]
            kq, km, kc = [q_all[keep]], [m_all[keep]], [c_all[keep]]
            buffered = len(kq[0])

        for qs in range(0, nq, CHUNK):
            Qc, qn_c, qid_c = Q[qs:qs + CHUNK], q_n[qs:qs + CHUNK], q_ids[qs:qs + CHUNK]
            nqc = len(qid_c)
            for ms in range(0, len(m_ids), CHUNK):
                Mc, mn_c, mid_c = M[ms:ms + CHUNK], m_n[ms:ms + CHUNK], m_ids[ms:ms + CHUNK]
                # dot as a left-associated accumulation over dimensions:
                # acc[q, m] += Qc[q, i] * Mc[m, i], i ascending — the exact
                # fold order of `_dot`, vectorized across the pair matrix
                acc = np.zeros((nqc, len(mid_c)))
                for i in range(dim):
                    acc = acc + Qc[:, i, None] * Mc[None, :, i]
                cos = acc / (qn_c[:, None] * mn_c[None, :])
                if exclude_self:
                    # −inf: excluded from both the top-k update and (being
                    # != −inf below) the survivor mask
                    cos = np.where(qid_c[:, None] == mid_c[None, :], -np.inf, cos)
                if do_prune:
                    merged = np.concatenate([topvals[qs:qs + nqc], cos], axis=1)
                    topvals[qs:qs + nqc] = -np.partition(
                        -merged, int(k) - 1, axis=1
                    )[:, : int(k)]
                    thr = topvals[qs:qs + nqc].min(axis=1) - margin
                    keep = (cos >= thr[:, None]) & (cos != -np.inf)
                else:
                    keep = cos != -np.inf
                qi, mi = np.nonzero(keep)
                kq.append(qi + qs)
                km.append(mid_c[mi])
                kc.append(cos[qi, mi])
                buffered += len(qi)
                if do_prune and buffered > prune_at:
                    recompact()
        if not buffered:
            return empty
        q_idx = np.concatenate(kq)
        allc = pd.DataFrame({
            "query_id": q_ids[q_idx],
            "neighbor_id": np.concatenate(km),
            "__cos": np.concatenate(kc),
        })
        # final exact prune: survivors ⊇ {cos >= kth_final − margin} and
        # contain every per-query top-k, so `_prune` on them reproduces the
        # full-buffer prune byte-for-byte
        return _prune(allc) if do_prune else allc

    scored = (
        members.groupby("__bucket")
        .cogroup(probes.groupby("__bucket"))
        .applyInPandas(_score_bucket, out_schema)
        # + 0.0: canonicalize -0.0 (driver hash is byte-exact vs DuckDB)
        .select(
            "query_id", "neighbor_id",
            (F.round("__cos", 6) + F.lit(0.0)).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int | None = 16,
    nprobe: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    sample_mod: int | None = None,
    train_distributed: bool = False,
    exclude_self: bool = False,
    bucket_target: int = GRAPH_BUCKET_TARGET,
) -> DataFrame:
    """Two-table approximate top-k join where BOTH sides are large: each
    query row finds its k nearest corpus rows by cosine. This is the
    missing scale shape between the broadcast-query `*_topk` family
    (queries must fit in a broadcast) and `knn_graph` (corpus vs itself):
    e.g. joining a billion-query table against a billion-document corpus
    for retrieval-augmented dataset construction.

    Same IVF machinery as `knn_graph`: centroids train on a bounded
    corpus sample (or fully distributed); the corpus buckets by nearest
    centroid inside its scan, queries explode to their ``nprobe`` nearest
    buckets inside theirs, and a bucket-cogrouped numpy scorer ranks —
    each side shuffles ONCE on the bucket id, nothing broadcasts, and
    per-bucket chunked matrices bound memory. Candidate volume is
    |Q|·nprobe·(|C|/n_centroids). ``exclude_self=True`` restores the
    self-exclusion rule when both inputs share an id namespace.

    Output: (query_id, neighbor_id, cosine, rank), rank <= k —
    approximate by candidate coverage; scores are exact 6dp cosines.
    """
    if queries.select(vec_col).first() is None:
        return _empty_topk(corpus, id_col)
    built = _ivf_index(
        corpus, n_centroids, nprobe, id_col=id_col, vec_col=vec_col, seed=seed,
        centroids=centroids, sample_mod=sample_mod,
        train_distributed=train_distributed,
        auto_nc=lambda n: auto_graph_params(n, bucket_target)["n_centroids"],
    )
    if built is None:
        return _empty_topk(corpus, id_col)
    centroids, nprobe, index = built
    # single-consumer scans on both sides: no materialize needed — each
    # assignment pass runs inside its own source scan exactly once; the
    # same index serves both sides, members take probes[0]
    members = _assign(
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")),
        "__v", centroids, 1, index,
    ).select("__id", "__v", F.col("__probes")[0].alias("__bucket"))
    probes = _assign(
        queries.select(F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qv")),
        "__qv", centroids, nprobe, index, explode=True,
    )
    id_t = dict(corpus.dtypes).get(id_col, "bigint")
    return _cogrouped_bucket_topk(
        members, probes, k, id_t, exclude_self=exclude_self, dim=len(centroids[0])
    )


def _d2_mul_expr(vec_col: str, centroid: list[float]):
    """Squared L2 distance to a centroid literal via (x-y)*(x-y)
    multiplication folds — NOT pow(x, 2): Java Math.pow and DuckDB's power
    can differ in the last ulp, and cluster assignment ties must agree
    bit-exactly with the oracle."""
    lit_c = F.lit([float(x) for x in centroid])  # one py4j call (r13)
    return F.aggregate(
        F.zip_with(
            F.col(vec_col),
            lit_c,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.5,
    n_clusters: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    n_iters: int = 5,
    keep: str = "min_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with k-means, then
    within each cluster mark semantic duplicates (cosine >= threshold)
    for removal, keeping one representative per duplicate neighborhood.

    ``keep`` selects the representative rule, both deterministic:
      - ``"min_id"``: drop every vector with a smaller-id duplicate
        neighbor (greedy keep-first-by-id).
      - ``"farthest"``: the paper's default — drop every vector with a
        duplicate neighbor strictly FARTHER from the shared cluster
        centroid (ties on distance break to the lower id). Survivors are
        the locally-centroid-farthest points, which SemDeDup argues are
        the most informative representatives.

    Output: (vec_id, cluster, keep) for EVERY input vector — keep=false
    marks semantic duplicates to discard — or no rows when the corpus is
    empty or all-NULL (nothing to cluster). Cosines are 6dp-rounded
    before the threshold compare (engine-parity rule); zero-norm vectors
    have undefined cosine and are always kept.

    Scale design: this is the SemDeDup bargain — candidate pairs are
    confined to clusters, so pair work is sum_i |c_i|^2 instead of N^2.
    ``n_clusters=None`` derives ceil(N / SEMDEDUP_CLUSTER_TARGET) from a
    cheap count (the same ∝N sizing rule as the graph family, coarser
    target — see SEMDEDUP_CLUSTER_TARGET), which makes total pair work
    LINEAR in N; a fixed n_clusters leaves it quadratic (measured: the r9
    sf3/sf5 sweep, SCALING_r09.md). The cluster-id groupBy shuffles each
    vector once.
    Assignment is the flat exact `_assign` in the scan (no join); the
    assignment table is materialized once and feeds both
    self-join branches (Catalyst would otherwise re-run scan+assign per
    branch). A pathological hot cluster degrades to |c|^2 *work* but stays
    a hash-partitioned equi-join, never a broadcast explosion.
    """
    if keep not in ("min_id", "farthest"):
        raise ValueError(f"keep must be 'min_id' or 'farthest', got {keep!r}")
    built = _ivf_index(
        vectors, n_clusters, 1, id_col=id_col, vec_col=vec_col, seed=seed,
        centroids=centroids, n_iters=n_iters, auto_nc=semdedup_n_clusters,
        two_level=False,
    )
    if built is None:
        id_type = dict(vectors.dtypes).get(id_col, "bigint")
        return local_table(
            vectors.sparkSession, [], f"{id_col} {id_type}, cluster int, keep boolean"
        )
    centroids = built[0]
    assigned = materialize(
        _assign(
            vectors.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")),
            "__v", centroids, with_d2=True,
        ).select(
            "__id", "__v", _norm(F.col("__v")).alias("__n"),
            F.col("__probes")[0].cast("int").alias("__cl"),
            # raw d2 to the assigned centroid: the same fold the
            # assignment argmin compares, so oracle parity is bit-exact
            F.col("__d2").alias("__dc"),
        )
    )
    # candidate pairs via per-cluster numpy scoring (grouped applyInPandas,
    # chunked pair matrices): each vector ships once per cluster, not once
    # per pair, and the dot is the same left-associated float64 fold as
    # `_dot` (bit-parity held by the strict gate). The UDF emits only
    # near-threshold pairs (raw cosine >= threshold - 1e-6, strictly wider
    # than round(·,6) >= threshold since |round(x,6)-x| <= 5e-7), and Spark
    # applies the EXACT HALF_UP round + threshold on that small set — numpy
    # never needs to reproduce java.math rounding.
    id_t = dict(vectors.dtypes).get(id_col, "bigint")
    pair_schema = f"__ida {id_t}, __idb {id_t}, __cos double, __dca double, __dcb double"
    margin = float(threshold) - 1e-6
    CHUNK = 2048

    _cl_dim = len(centroids[0])  # index dimension; ragged rows are dropped

    def _cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["__ida", "__idb", "__cos", "__dca", "__dcb"]
        empty = pd.DataFrame({c: [] for c in cols})
        ok = (
            np.array([v is not None and len(v) == _cl_dim for v in pdf["__v"]])
            & (pdf["__n"].values > 0.0)
        )
        if ok.sum() < 2:
            return empty
        ids = pdf["__id"].values[ok]
        X = np.vstack(pdf["__v"].values[ok]).astype(np.float64)
        nrm = pdf["__n"].values[ok].astype(np.float64)
        dc = pdf["__dc"].values[ok].astype(np.float64)
        dim, outs = X.shape[1], []
        for ai in range(0, len(ids), CHUNK):
            A, an, aid, adc = (z[ai:ai + CHUNK] for z in (X, nrm, ids, dc))
            for bi in range(0, len(ids), CHUNK):
                B, bn, bid, bdc = (z[bi:bi + CHUNK] for z in (X, nrm, ids, dc))
                acc = np.zeros((len(aid), len(bid)))
                for i in range(dim):
                    acc = acc + A[:, i, None] * B[None, :, i]
                cos = acc / (an[:, None] * bn[None, :])
                ri, ci = np.nonzero((aid[:, None] < bid[None, :]) & (cos >= margin))
                if len(ri):
                    outs.append(pd.DataFrame({
                        "__ida": aid[ri], "__idb": bid[ci], "__cos": cos[ri, ci],
                        "__dca": adc[ri], "__dcb": bdc[ci],
                    }))
        return pd.concat(outs, ignore_index=True) if outs else empty

    pairs = (
        assigned.groupBy("__cl")
        .applyInPandas(_cluster_pairs, pair_schema)
        .filter(F.round(F.col("__cos"), 6) >= float(threshold))
    )
    if keep == "min_id":
        loser = F.col("__idb")
    else:
        # keep-farthest: the pair member NEARER the centroid loses;
        # equal distances keep the lower id (drop __idb)
        loser = F.when(F.col("__dca") >= F.col("__dcb"), F.col("__idb")).otherwise(
            F.col("__ida")
        )
    dropped = pairs.select(loser.alias("__id")).distinct()
    return (
        assigned.join(dropped.withColumn("__dropped", F.lit(1)), "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__cl").alias("cluster"),
            F.col("__dropped").isNull().alias("keep"),
        )
    )


def train_pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    n_iters: int = 5,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_cap: int = SAMPLE_CAP,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector is split into
    ``m`` contiguous subspaces and each gets its own ``k_codes``-centroid
    k-means codebook, trained per subspace on the same bounded id-hash
    driver sample as `train_ivf_centroids` (≤ ~sample_cap rows at any
    table size). Returns m codebooks of k_codes × (dim/m) floats, or
    ``[]`` when the sample holds no valid vector (with ``normalize``, no
    vector of non-zero norm).

    ``normalize=True`` trains on unit vectors (zero-norm rows dropped) so
    PQ distances are monotone in cosine — the convention `pq_topk` uses.
    """
    X = _driver_sample(vectors, id_col, vec_col, sample_mod, sample_cap)
    if not len(X):
        return []
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    if normalize:
        norms = np.linalg.norm(X, axis=1)
        X = X[norms > 0] / norms[norms > 0, None]
        if not len(X):
            return []
    sub = dim // m
    return [
        lloyd_kmeans(X[:, s * sub : (s + 1) * sub], k_codes, n_iters=n_iters, seed=seed + s)
        for s in range(m)
    ]


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    out: str = "pq_codes",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte-ish code ids (array<int>) —
    nearest codebook entry per subspace, ties to the lower code id.

    Pure column expressions: encoding runs inside the scan, no
    join/shuffle — at 100 TB this is the compression pass that shrinks a
    64-dim float column ~32× for candidate scoring. Zero-norm vectors
    encode as NULL codes when ``normalize`` (undefined direction), and
    are dropped by `pq_topk`.

    Execution note: encoding is an Arrow-batched **vectorized pandas
    UDF** — numpy computes the full (batch × k_codes) distance matrix
    per subspace and `argmin` picks the code (first minimum = lowest
    code id, the tie rule). The r2 shape was m·k_codes nested
    zip_with/aggregate/array_sort column expressions; higher-order
    functions are excluded from whole-stage codegen, so that evaluated
    interpreted, row-at-a-time, struct-allocating — 53 s for the sf0.01
    encode vs < 0.5 s for the numpy batch math. This is the documented
    "UDFs only where built-ins genuinely can't" exception: the built-in
    expression exists but cannot codegen.
    """
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k_codes, sub)
    m_, _k, sub_ = B.shape
    dim = m_ * sub_
    do_norm = bool(normalize)

    @F.pandas_udf("array<int>")
    def _enc(col: pd.Series) -> pd.Series:
        res: list = [None] * len(col)
        vecs = [np.asarray(v, dtype=np.float64) if v is not None else None for v in col]
        ok = [i for i, v in enumerate(vecs) if v is not None and v.shape == (dim,)]
        if not ok:
            return pd.Series(res)
        X = np.stack([vecs[i] for i in ok])  # (n, dim)
        if do_norm:
            nrm = np.linalg.norm(X, axis=1)
            good = nrm > 0
            X = X[good] / nrm[good, None]
            ok = [i for i, g in zip(ok, good) if g]
            if not ok:
                return pd.Series(res)
        Xs = X.reshape(len(ok), m_, sub_)
        codes = np.empty((len(ok), m_), dtype=np.int32)
        for s in range(m_):
            # (n, k_codes) squared distances; argmin keeps the FIRST
            # minimum -> ties break to the lower code id
            d2 = ((Xs[:, s, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = d2.argmin(axis=1)
        for row, i in enumerate(ok):
            res[i] = codes[row].tolist()
        return pd.Series(res)

    # asNondeterministic (guide §4.4, r14): pq_topk filters on the
    # codes column (NULL-code drop), and the optimizer pushes that filter
    # BELOW the projection while re-substituting the UDF — the plan grew
    # a second ArrowEvalPython and every vector paid the numpy encode
    # twice (plans/r14/pq_topk_before.txt nodes (3)+(6)). The function is
    # semantically deterministic; the mark only forbids Catalyst from
    # duplicating/reordering it, yielding one evaluation.
    return vectors.withColumn(out, _enc.asNondeterministic()(F.col(vec_col)))


# Quantization scale for PQ's ADC partial distances: unit-normalized
# subspace d² ≤ 4, so floor(d²·2^48) ≤ 2^50 is an exact IEEE floor and the
# per-candidate sum of m ≤ 64 longs stays far under 2^63 — making the ADC
# aggregation order-free (the pagerank/grid_lag quantize lesson), which is
# what upgrades pq_topk's oracle from rows-only to a strict golden. The
# 2^-48 partial quantization is ~1e-14 per term, invisible at the 6dp
# approx_cosine round.
PQ_ADC_SCALE = float(1 << 48)


def _adc_table_distributed(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Scale path for pq_topk's ADC tables: the query frame never touches
    the driver. Normalized queries posexplode into m subspace slices, the
    (m · k_codes)-row codebook frame broadcasts, and d² is the same
    left-fold zip_with sum per (query, subspace, code) row the driver
    loop computes (then quantized to a long exactly as the driver loop
    quantizes — since r12 the driver loop evaluates the identical
    left-associated column-loop fold, so the two BUILD paths produce
    bit-identical __d2q longs and the strict golden covers both; pinned
    by a forced-both-paths differential in tests). Output schema matches
    the driver build
    exactly: (query_id, __sub, __code, __d2q long); zero-norm queries are
    dropped, as the driver loop drops them."""
    m = len(codebooks)
    spark = queries.sparkSession
    cb = local_table(
        spark,
        [
            (s, ci, [float(x) for x in c])
            for s, book in enumerate(codebooks)
            for ci, c in enumerate(book)
        ],
        "__sub int, __code int, __cent array<double>",
    )
    qn = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    ).filter(F.col("__qn") > 0)
    # normalize, then slice into the m subvectors; two selects (the
    # generator + subscript analyzer quirk — CLAUDE.md)
    sliced = qn.select(
        "query_id",
        F.expr(
            f"transform(sequence(0, {m - 1}), s -> "
            f"slice(transform(__qv, x -> x / __qn), "
            f"s * (size(__qv) div {m}) + 1, size(__qv) div {m}))"
        ).alias("__slices"),
    ).select("query_id", F.posexplode("__slices").alias("__sub", "__qslice"))
    return sliced.join(F.broadcast(cb), "__sub").select(
        "query_id",
        "__sub",
        "__code",
        F.floor(
            F.aggregate(
                F.zip_with(
                    F.col("__qslice"), F.col("__cent"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * F.lit(PQ_ADC_SCALE)
        ).alias("__d2q"),
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int | str | None = None,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    vectors are scored through their codes only — the query builds an
    m × k_codes distance table against the codebooks and each candidate's
    distance is the sum of m table lookups, never a full-vector dot.

    Everything is unit-normalized, so ADC L2² = 2 − 2·cosine and the
    output `approx_cosine = 1 − d²/2` ranks identically to cosine.

    Plan shape (fully distributed, no driver scoring): encode in the scan
    → posexplode the m codes → broadcast-join the (query, subspace, code,
    partial d²) table (|queries|·m·k_codes rows; driver-built only below
    ``PQ_QUERY_DRIVER_CAP`` queries — one LIMITed collect, never more
    than cap+1 rows pulled — else built in-plan by
    `_adc_table_distributed` so a large query frame cannot flood the
    driver) → hash-aggregate the m partials per (query,
    vector) → rank. Shuffle volume is |vectors|·m skinny rows with
    map-side combine; the ADC table broadcast replaces any per-pair
    vector math. Output: (query_id, neighbor_id, approx_cosine, rank) —
    approximate vs exact cosine (recall is pytest-checked against
    `cosine_topk`), but DETERMINISTIC since r11: ADC partials are exact
    longs (PQ_ADC_SCALE), so the per-candidate sum commutes and the
    whole pipeline is strict-gateable via a full numpy golden
    (tools/golden_oracles.pq_golden_sql).

    ``rerank=r`` adds the standard refinement stage (IVFADC+R, Jégou et
    al. 2011 §V): ADC keeps k·r candidates, then ONLY those re-score with
    exact cosine against the raw vectors (a candidate-sized join — the
    full-vector math never touches the other N - k·r rows) and the final
    top-k ranks on the exact score (output column `cosine`). This is how
    a production pipeline trades a tiny candidate join for near-exact
    recall at PQ scan cost. ``rerank="auto"`` derives r from the corpus
    size at plan time (`auto_ann_params` — ADC rank quality dilutes with
    corpus scale, so r grows to the 64 ceiling).
    """
    # the reranked output scores exact `cosine`; plain ADC `approx_cosine`
    score = "approx_cosine" if rerank is None else "cosine"
    n_vec: int | None = None
    if rerank == "auto":
        n_vec = vectors.count()
        rerank = auto_ann_params(n_vec)["rerank"]
        if n_vec == 0:
            return _empty_topk(vectors, id_col, score)
    elif vectors.first() is None:
        return _empty_topk(vectors, id_col, score)
    if codebooks is None:
        codebooks = train_pq_codebooks(
            vectors, m=m, k_codes=k_codes, id_col=id_col, vec_col=vec_col,
            seed=seed,
            # reuse the auto-rerank count for the trainer's sample-mod
            # derivation (one fewer count job; identical sample_mod)
            sample_mod=None if n_vec is None else _sample_mod(n_vec),
        )
        if not codebooks:
            return _empty_topk(vectors, id_col, score)
    m = len(codebooks)
    spark = vectors.sparkSession

    enc = pq_encode(vectors, codebooks, id_col=id_col, vec_col=vec_col)
    cand = (
        enc.filter(~F.exists(F.col("pq_codes"), lambda c: c.isNull()))
        .select(F.col(id_col).alias("neighbor_id"), F.posexplode("pq_codes"))
        .withColumnsRenamed({"pos": "__sub", "col": "__code"})
    )

    # ADC tables: per query, the distance from its subspace slice to every
    # codebook entry — |queries| × m × k_codes rows. Small query sets
    # build it driver-side (one limited collect, never more than cap+1
    # rows pulled); anything larger builds it distributedly so a big
    # query frame can never flood the driver (r6 gate, VERDICT r5 #3).
    qid_type = dict(queries.dtypes).get(id_col, "bigint")
    cap = int(PQ_QUERY_DRIVER_CAP)
    qrows = queries.select(id_col, vec_col).limit(cap + 1).collect()
    if len(qrows) <= cap:
        table = []
        for r in qrows:
            if r[vec_col] is None:
                continue  # no direction; the distributed build drops it too
            qv = np.asarray(list(r[vec_col]), dtype=np.float64)
            nrm = float(np.linalg.norm(qv))
            if nrm == 0.0:
                continue
            qv = qv / nrm
            sub = len(qv) // m
            for s, book in enumerate(codebooks):
                qs = qv[s * sub : (s + 1) * sub]
                # d² as the SAME left-associated fold the distributed
                # build's zip_with/aggregate computes (column-loop
                # accumulation; ADVICE r11: numpy's pairwise .sum() can
                # differ by 1 ulp pre-floor, so the two BUILD paths could
                # quantize differently at a floor boundary)
                Bs = np.asarray(book, dtype=np.float64)  # (k_codes, sub)
                diff = qs[None, :] - Bs
                sq = diff * diff
                acc = np.zeros(len(Bs))
                for i in range(sub):
                    acc = acc + sq[:, i]
                for ci in range(len(Bs)):
                    # exact long partial: the per-candidate ADC sum is then
                    # order-free under any hash-agg order (PQ_ADC_SCALE)
                    table.append(
                        (r[id_col], s, ci, int(math.floor(acc[ci] * PQ_ADC_SCALE)))
                    )
        adc = local_table(
            spark, table, f"query_id {qid_type}, __sub int, __code int, __d2q long"
        )
    else:
        adc = _adc_table_distributed(queries, codebooks, id_col, vec_col)
    scored = (
        cand.join(F.broadcast(adc), ["__sub", "__code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__d2q").alias("__dist"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            (
                F.round(
                    F.lit(1.0)
                    - F.col("__dist").cast("double") / F.lit(PQ_ADC_SCALE) / F.lit(2.0),
                    6,
                )
                + F.lit(0.0)
            ).alias("approx_cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col("neighbor_id")
    )
    n_keep = int(k) if rerank is None else int(k) * int(rerank)
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= n_keep
    )
    if rerank is None:
        return ranked
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vv"),
        _norm(F.col(vec_col)).alias("__vn"),
    )
    qn = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    cand2 = (
        ranked.select("query_id", "neighbor_id")
        .join(v, "neighbor_id")
        .join(F.broadcast(qn), "query_id")
    )
    return _score_and_rank(cand2, k)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing (or near) the query's
    hyperplane sign bucket. Recall < 1 by construction; bucket count
    2^n_planes cuts the candidate set proportionally.

    ``probe_bits=1`` (default) is standard MULTI-PROBE LSH (Lv et al.,
    VLDB'07): each query also probes the ``n_planes`` buckets at Hamming
    distance 1 from its own signature — near neighbours that land a hair
    past one hyperplane (the dominant recall loss mode) are recovered for
    an (n_planes+1)/2^n_planes fraction of the corpus scored per query.
    Measured at sf0.01 (tools/gen_recall.py): recall@10 0.06 single-probe
    -> 0.28 multi-probe at n_planes=6. ``probe_bits=0`` probes only the
    exact bucket. Each (query, vector) pair joins at most once (the
    vector side has ONE bucket; the probe list is distinct), so no
    dedup step is needed. Same output shape as cosine_topk.

    ``n_planes=None`` derives the plane count from the corpus size at
    plan time (`auto_ann_params`: bounded candidates per query, p grows
    with log2 n) — the recall-stable default as corpora scale.

    TIER BOUNDARY (r12, `LSH_BOUNDARY_r12.json`): measured recall@10
    vs exact holds above the 0.20 floor through n = 2×10⁵ (0.243 at
    n=1e5, 0.2535 at n=2e5 — the √n candidate budget keeps p=7's
    scored fraction at 6.25% across that range). The policy's next
    plane bump (n > 214,748 → p=8) nearly halves the scored fraction,
    and the forced-p=8 measurement reads 0.18 < floor
    (RECALL_SF5 campaign, r11) — so sign-LSH is officially the
    ≲ 2×10⁵-vector tier; larger corpora belong to ivf_topk /
    knn_graph / ann_join (bucket-join families whose index scales
    with n), the same adjudication pattern as ngram→minhash."""
    # the plane dimension comes from the first non-NULL vector
    first = vectors.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if first is None:
        return _empty_topk(vectors, id_col)
    if n_planes is None:
        n_planes = auto_ann_params(vectors.count())["n_planes"]
    dim = len(first[0])
    planes = hyperplanes(dim, n_planes, seed)
    # build the (p x dim)-literal bucket expression ONCE and reuse the
    # Column for both sides — construction is the dominant driver-side
    # cost of this operator's build phase (r13 opt)
    bucket = lsh_bucket_expr(vec_col, planes)
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vv"),
        _norm(F.col(vec_col)).alias("__vn"),
        bucket.alias("__bucket"),
    )
    probes = [bucket] + (
        [bucket.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
        if probe_bits >= 1
        else []
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
        F.explode(F.array(*probes)).alias("__bucket"),
    )
    pairs = v.join(F.broadcast(q), "__bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    return _score_and_rank(pairs, k)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column: the
    100 TB memory/shuffle lever (array<tinyint> stores and shuffles at 1/4
    of array<float>, before parquet byte-packing).

    scale = max(|x|) / 127; q_i = floor(x_i / scale + 0.5) as TINYINT.
    floor(· + 0.5) — not round() — is the DEFINITION on purpose: floor on
    identical IEEE doubles is engine-exact, while Spark's round() rounds
    the shortest decimal repr (BigDecimal HALF_UP) and diverges from
    C-family rounding on boundary values (the divide_column lesson).
    Zero/empty vectors quantize to all-zero with scale 0.

    Pure scan-side array expressions: no shuffle, no UDF.
    """
    x = F.col(vec_col)
    out = df.withColumn(
        scale_col,
        F.coalesce(
            F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
            / F.lit(127.0),
            F.lit(0.0),
        ),
    )
    return out.withColumn(
        q_col,
        F.when(
            F.col(scale_col) > 0,
            F.transform(
                F.col(vec_col),
                lambda v: F.floor(
                    v.cast("double") / F.col(scale_col) + F.lit(0.5)
                ).cast("tinyint"),
            ),
        ).otherwise(
            F.transform(F.col(vec_col), lambda v: F.lit(0).cast("tinyint"))
        ),
    )


def dequantize_expr(q_col: str = "q", scale_col: str = "scale"):
    """Reconstruction q_i * scale as a scan-side array expression."""
    return F.transform(
        F.col(q_col), lambda v: v.cast("double") * F.col(scale_col)
    )


def quantized_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine over int8-quantized vectors: quantize both sides,
    reconstruct, and rank with the shared exact scorer — what a deployment
    that stores embeddings quantized computes. Same output contract as
    cosine_topk; recall vs the float path is a test concern
    (test_beyond), not an operator knob.
    """
    def _roundtrip(df: DataFrame) -> DataFrame:
        # fused quantize+dequantize: floor(x/scale + 0.5) * scale in ONE
        # array pass (the int8 codes themselves are a storage concern —
        # the top-k path only needs the reconstructed values, and HOF
        # passes are interpreted, so one fewer pass is ~30% here)
        s = df.select(
            F.col(id_col),
            F.col(vec_col).alias("__x"),
            F.coalesce(
                F.array_max(F.transform(vec_col, lambda v: F.abs(v.cast("double"))))
                / F.lit(127.0),
                F.lit(0.0),
            ).alias("__s"),
        )
        return s.select(
            id_col,
            F.when(
                F.col("__s") > 0,
                F.transform(
                    "__x",
                    lambda v: F.floor(
                        v.cast("double") / F.col("__s") + F.lit(0.5)
                    ) * F.col("__s"),
                ),
            )
            .otherwise(F.transform("__x", lambda v: F.lit(0.0)))
            .alias(vec_col),
        )

    return cosine_topk(
        _roundtrip(vectors), _roundtrip(queries), k=k, id_col=id_col, vec_col=vec_col
    )
