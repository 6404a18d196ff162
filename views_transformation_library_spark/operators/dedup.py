"""Deduplication operators for training-data pipelines (beyond-reference
surface): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes:
  * exact dedup: one hash-groupBy — embarrassingly scalable.
  * n-gram Jaccard: inverted-index (postings) self-join on shingles, NOT an
    all-pairs cross join — pairs sharing no shingle never materialize. This
    is the standard MapReduce-exact algorithm; the shuffle key is the
    shingle, so hot shingles are the skew risk (mitigate upstream by
    dropping ultra-common shingles — see `max_doc_freq`).
  * MinHash+LSH: signatures via integer affine hashes of md5-derived
    shingle ints — fully deterministic and engine-independent (no floats,
    no library hash): h_j(x) = (a_j * x + b_j) mod P with x < 2^28,
    a_j,b_j < P = 2^31-1, so products stay well under 2^63. Band buckets
    join candidates; exact Jaccard verifies. At 100 TB the only wide
    shuffles are groupBy(doc, j) for signatures and the band-bucket join.
  * SimHash: 64-bit signature from per-token hash bits weighted by
    occurrence; near-dup = signatures within Hamming distance d (join on
    band chunks to avoid all-pairs).
"""

from __future__ import annotations

import logging
import random

from pyspark.sql import DataFrame, Observation, Window, functions as F

from ..panel import local_table, materialize, materialize_counted, observed_metrics

logger = logging.getLogger(__name__)

MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime)
SHINGLE_BITS_HEX = 7  # 28-bit shingle ints keep a*x + b < 2^51

# Attribute under which capped pipelines carry their guard Observation on
# the returned DataFrame (read it with `lsh_guard_stats`). ngram_jaccard
# (r10) attaches a plain precomputed dict instead — its guard counters
# come from the hot-shingle aggregate that also drives the broadcast
# gate, so they exist at plan-build time with no observe listener.
_GUARD_ATTR = "_lsh_guard_observation"

# Over-cap shingle sets up to this many rows anti-join as a broadcast
# (scan-side filter, no extra shuffle of the postings table); a corpus
# whose hot set exceeds it falls back to a shuffle anti-join.
HOT_SHINGLE_BROADCAST_CAP = 1_000_000

# ngram_jaccard's per-doc shingle-count table broadcasts only when the
# corpus is provably this small (2 longs/row ≈ 64 MB at the cap);
# bigger corpora hash-shuffle it instead. The gate is a runtime count —
# never a Catalyst estimate: at sf5 the static planner BROADCAST the
# corpus-scale PAIR table (BuildLeft off a junk post-aggregate
# estimate), a 6 GB build-side collect that blew
# spark.driver.maxResultSize (r10 sweep).
SIZES_BROADCAST_CAP = 4_000_000


def lsh_guard_stats(df_or_obs, block: bool = False) -> dict | None:
    """Read the hot-bucket guard counters of a capped minhash pipeline
    (VERDICT r6 #3 — capped runs must be distinguishable from exact ones
    by a counted signal).

    Accepts the DataFrame returned by `minhash_lsh_pairs` /
    `fuzzy_dedup_keep` / `split_leakage` (the guard `Observation` rides on
    it) or the Observation itself. Returns None when the pipeline ran
    uncapped (`max_bucket=None` attaches no observation — exact runs carry
    no guard object at all); otherwise a dict:

      skipped_rows     doc-band memberships in over-cap buckets (exact)
      skipped_pairs    candidate pairs the cap dropped, Σ B·(B-1)/2 over
                       over-cap buckets (exact: the long sum Σ(B-1) per
                       row is halved here — B·(B-1) is always even).
                       NOTE: counts per-bucket memberships, so it is an
                       UPPER BOUND on actually-lost pairs — a pair whose
                       members still co-bucket in another (under-cap)
                       band is regenerated there yet still counted here
      skipped_buckets  over-cap (band, sig) buckets (Σ 1/B per member
                       row, rounded — exact until ~1e15 rows)

    All zeros ⇒ the cap was set but never engaged (results identical to
    the uncapped plan). Metrics are collected by a `CollectMetrics` node
    inside the pair-generation job itself (zero extra passes) and are
    populated by the FIRST action that executes the observed plan —
    `fuzzy_dedup_keep` runs one internally (the connected-components size
    gate); for `minhash_lsh_pairs` / `split_leakage` call this after your
    own action. `block=False` peeks without waiting (None if no action has
    run yet); `block=True` waits for one."""
    obs = (
        df_or_obs
        if isinstance(df_or_obs, (Observation, dict))
        else getattr(df_or_obs, _GUARD_ATTR, None)
    )
    if obs is None:
        return None
    if isinstance(obs, dict):
        # precomputed counters (ngram_jaccard r10): already exact ints,
        # available regardless of `block` or whether an action has run
        return dict(obs)
    raw = observed_metrics(obs, block)
    if raw is None:
        return None
    return {
        "skipped_rows": int(raw.get("skipped_rows") or 0),
        "skipped_pairs": int(raw.get("skipped_pair_terms") or 0) // 2,
        "skipped_buckets": int(round(float(raw.get("skipped_bucket_frac") or 0.0))),
    }


def tokens_expr(col: str):
    return F.regexp_extract_all(F.lower(F.col(col)), F.lit(r"\S+"), 0)


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by normalized-md5 fingerprint: one row per
    distinct content with the keeper (min id) and the copy count."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def dedup_keep(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Row-preserving exact dedup: keep ONE representative row (min id) per
    normalized-md5 fingerprint group, dropping the other copies — the
    pipeline-composable counterpart of `exact_dedup` (which aggregates to
    groups). One shuffle: a row_number window partitioned by the
    fingerprint; no join back to the corpus."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    w = Window.partitionBy(F.md5(norm)).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """Distinct word n-grams per doc, built entirely with array expressions
    (transform over a sequence of start positions + slice) — no joins, no
    shuffle until the final distinct. Docs with fewer than n tokens yield
    no shingles.

    ``distinct=False`` skips the corpus-wide (doc, shingle) dedup shuffle
    and returns the raw multiset — correct for any MULTIPLICITY-INSENSITIVE
    consumer (HLL register max-merge: duplicates of a string hash
    identically, so the register table is provably unchanged — r13 opt).
    Set-semantics consumers (jaccard counts, minhash signatures) must keep
    the default."""
    toks = df.select(F.col(id_col).alias("doc"), tokens_expr(text_col).alias("__toks"))
    toks = toks.filter(F.size("__toks") >= n)
    grams = F.expr(
        f"transform(sequence(1, size(__toks) - {n - 1}), i -> concat_ws(' ', slice(__toks, i, {n})))"
    )
    out = toks.select("doc", F.explode(grams).alias("shingle"))
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (a < b, jaccard >= τ) via
    an inverted index. `max_doc_freq` optionally drops shingles occurring
    in more than that many docs (skew guard at scale; None = exact).
    Measured r11 (NGRAM_CAP_r11.json): the cap engages naturally at sf10
    (271 hot shingles, 166M candidate pairs dropped) but bounds MEMORY
    and per-shingle skew, not the wall (0.85× uncapped; e≈2.26 stays) —
    this exact tier is intrinsically quadratic in doc frequency; the
    corpus-scale near-dup tier is `minhash_lsh_pairs` (measured e=0.54).

    Pair generation is postings-list expansion, not a self-join: ONE
    groupBy(shingle) builds each shingle's sorted doc list, then array
    expressions emit the C(D,2) within-list pairs and ONE groupBy(a, b)
    counts intersections — two shuffles end-to-end where the r1 self-join
    plan had five. The per-shingle expansion is the same C(D,2) rows the
    join produced, bounded by max_doc_freq when set.

    Guard design (r10, third generation): the over-cap shingle set is
    computed by a plain COUNT hash-aggregate — map-side partial, (shingle,
    long) buffers, memory-safe at any skew, unlike filtering collected
    lists (r1: unbounded reduce buffers) and ~16 s/sf1 cheaper than the
    r5 windowed-count-in-the-same-exchange plan (the window sort + a
    postings localCheckpoint cost 3.3× the whole uncapped operator while
    dropping ZERO shingles at the entry cap — NGRAM_TIERS_SF1_r10.json,
    NGRAM_GUARD_SF1_r10.json). The tiny hot aggregate is checkpointed,
    its stats collect is BOTH the guard counters and the broadcast gate,
    and sh anti-joins it only when hot shingles exist — zero engagement
    costs one small aggregate job, nothing on the main path.

    The denominator-join gate's doc count is OBSERVED inside the shingle
    materialize job (CollectMetrics below the tokenizer) instead of a
    separate df.count() job — r10's +0.4 s/query fixed-cost gate job,
    VERDICT r10 #7. A size gate needs a batch frame: streaming input
    raises ValueError."""
    if df.isStreaming:
        raise ValueError(
            "ngram_jaccard_pairs: the doc-count size gate needs a batch "
            "frame, got a streaming one"
        )
    docs_obs = Observation()
    sh = materialize(
        _shingles(
            df.observe(docs_obs, F.count(F.lit(1)).alias("__docs")),
            id_col,
            text_col,
            n,
        )
    )
    sh_kept = sh
    guard_stats = None
    if max_doc_freq is not None:
        cap = int(max_doc_freq)
        hot = materialize(
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > cap)
        )
        row = hot.agg(
            F.count(F.lit(1)).alias("b"),
            F.sum("__df").alias("r"),
            F.sum(F.col("__df") * (F.col("__df") - F.lit(1))).alias("p2"),
        ).collect()[0]
        # exact integers: skipped_pairs = Σ C(df,2) over hot shingles —
        # candidate pairs lost AT those shingles (an upper bound on truly
        # lost pairs: a pair can co-occur under a surviving shingle)
        guard_stats = {
            "skipped_rows": int(row["r"] or 0),
            "skipped_pairs": int(row["p2"] or 0) // 2,
            "skipped_buckets": int(row["b"] or 0),
        }
        if guard_stats["skipped_buckets"] == 0:
            sh_kept = sh  # cap never engaged: keep the uncapped plan shape
        elif guard_stats["skipped_buckets"] <= HOT_SHINGLE_BROADCAST_CAP:
            sh_kept = sh.join(
                F.broadcast(hot.select("shingle")), "shingle", "left_anti"
            )
        else:
            # pathological corpus (millions of over-cap shingles): a
            # shuffle anti-join — still list-buffer-free end to end
            sh_kept = sh.join(hot.select("shingle"), "shingle", "left_anti")
    postings = sh_kept.groupBy("shingle").agg(
        F.array_sort(F.collect_list("doc")).alias("__docs")
    )
    pair_structs = F.expr(
        "flatten(transform(__docs, (x, i) -> "
        "transform(slice(__docs, i + 2, size(__docs) - i - 1), "
        "y -> struct(x as a, y as b))))"
    )
    inter = (
        postings.select(F.explode(pair_structs).alias("__p"))
        .select(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    # sizes count only guard-surviving shingles (jaccard denominators
    # match the oracle): sh_kept IS that set row-for-row, so both branches
    # (postings + sizes) re-filter the checkpointed sh — a scan-side
    # broadcast anti per branch, no postings materialize, no explode
    sizes = sh_kept.groupBy("doc").agg(F.count("*").alias("sz"))
    sz_a = sizes.select(F.col("doc").alias("a"), F.col("sz").alias("sza"))
    sz_b = sizes.select(F.col("doc").alias("b"), F.col("sz").alias("szb"))
    # denominator-join strategy by RUNTIME doc count (SIZES_BROADCAST_CAP):
    # broadcast the per-doc counts while the corpus is provably small
    # (the measured sf0.1 win), hash-shuffle them beyond — `sizes` is one
    # row per doc, unbounded at 100 TB, and `inter` (every near-dup pair)
    # must NEVER be a build side. An explicit hint on the sizes side pins
    # the build side either way; Spark's own estimate picked
    # BuildLeft(inter) at sf5 and collected 6 GB to the driver.
    if int(observed_metrics(docs_obs, block=True).get("__docs", 0)) <= SIZES_BROADCAST_CAP:
        sz_a, sz_b = F.broadcast(sz_a), F.broadcast(sz_b)
    else:
        sz_a, sz_b = sz_a.hint("shuffle_hash"), sz_b.hint("shuffle_hash")
    out = (
        inter.join(sz_a, "a")
        .join(sz_b, "b")
        .select(
            "a",
            "b",
            (F.col("c") / (F.col("sza") + F.col("szb") - F.col("c"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if guard_stats is not None:
        setattr(out, _GUARD_ATTR, guard_stats)
    return out


def minhash_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic affine-hash coefficients (a_j, b_j), a_j != 0."""
    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P)) for _ in range(n_hashes)]


def shingle_int_expr(shingle_col: str):
    """28-bit integer from the md5 of a shingle — identical in any engine
    with md5 + hex parsing (DuckDB: CAST('0x'||substr(md5(s),1,7) AS BIGINT))."""
    return F.conv(F.substring(F.md5(F.col(shingle_col)), 1, SHINGLE_BITS_HEX), 16, 10).cast("long")


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 24, seed: int = 42
) -> DataFrame:
    """Wide signature table (doc, mh_0..mh_{H-1}): min over shingles of
    (a_j * x + b_j) mod P, all H minimums computed in ONE hash aggregate —
    no j-explode (which would shuffle |shingles| x H rows), columnar
    whole-stage codegen throughout."""
    params = minhash_params(n_hashes, seed)
    hashed = sh.select("doc", shingle_int_expr("shingle").alias("x"))
    return hashed.groupBy("doc").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % MINHASH_P).alias(f"mh_{j}")
            for j, (a, b) in enumerate(params)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_hashes: int = 24,
    bands: int = 6,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact Jaccard (a < b,
    jaccard >= τ). Integer-exact end-to-end, so results are deterministic
    and reproducible across engines. rows = bands per doc after banding;
    candidate generation is an equi-join on (band, signature).

    ``max_bucket`` is the hot-bucket guard: a band-bucket holding B docs
    emits B²/2 candidate pairs from ONE aggregation group (boilerplate
    corpora produce million-doc buckets — unbounded collect_list state
    and ~10^13 pairs at web scale). Buckets larger than the cap are
    skipped for pair generation via a windowed count + filter BELOW the
    collect_list: the window, the filter and the aggregate share ONE
    (band, sig) exchange (pinned in tests/test_plans.py), and a hot
    bucket's rows pass through the spillable WindowExec sorter instead of
    an in-memory collect_list buffer — bounded memory at any skew.
    Members of a skipped bucket still pair through
    their other ``bands-1`` buckets, and identical texts belong in
    `exact_dedup`/`dedup_keep` upstream anyway. Results at any bucket
    size under the cap are IDENTICAL to the uncapped plan.

    Default is ``max_bucket=None`` (exact — every bucket pairs): a cap
    makes results data-dependent with no signal to the caller, so this
    low-level API never drops silently. The end-to-end pipelines
    (`fuzzy_dedup_keep`, `split_leakage`) opt IN to the 100k guard as
    their documented scale default.

    A capped run is never a SILENT semantics change (VERDICT r6 #3): when
    ``max_bucket`` is set, a `CollectMetrics` observation above the bucket
    window (and below the filter — CollectMetrics is a predicate-pushdown
    barrier, pinned in test_plans) counts skipped rows / pairs / buckets
    inside the pair-generation job itself; read it with `lsh_guard_stats`
    on the returned frame after any action."""
    if bands < 1 or n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a positive multiple of bands ({bands})"
        )
    r = n_hashes // bands
    # shingles feed signature building plus three verification branches —
    # materialize once. The signature table, by contrast, has exactly ONE
    # consumer since pair generation moved from a bucket self-join to
    # postings-list expansion (r4): its old materialize was a vestigial
    # blocking checkpoint job + block write/read on every pipeline build
    # (r13, guide §5 — persist only what is reused), so the aggregation now
    # inlines into the band job.
    sh = materialize(_shingles(df, id_col, text_col, n))
    sig = minhash_signatures(sh, n_hashes, seed)
    # band signatures straight off the wide row: no second shuffle
    band_sig = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[F.col(f"mh_{b * r + i}") for i in range(r)]
                        ).alias("sig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    # candidate pairs by postings-list expansion (one groupBy(band, sig) +
    # array pair emission) instead of a bucket self-join — same pairs, two
    # fewer shuffles (mirrors the ngram_jaccard inverted-index plan)
    if max_bucket is not None:
        # hot-bucket guard: windowed bucket count + filter BELOW the
        # collect_list. The window partitions on exactly the aggregate's
        # grouping keys, so window -> filter -> groupBy share ONE
        # exchange (a count-aggregate + semi-join formulation costs a
        # second shuffle of the band rows: Catalyst does not reuse the
        # duplicated band_sig subplan across join branches), and an
        # oversized bucket flows through WindowExec's SPILLABLE sorter
        # instead of an unbounded in-memory collect_list buffer.
        w_bucket = Window.partitionBy("band", "sig")
        band_sig = band_sig.withColumn("__bn", F.count(F.lit(1)).over(w_bucket))
        # guard accounting (VERDICT r6 #3): CollectMetrics between the
        # window and the filter counts what the cap drops, inside the same
        # job — skipped_pair_terms sums (B-1) per over-cap row (Σ = B(B-1)
        # per bucket, halved at read time: exact long arithmetic), and
        # skipped_bucket_frac sums 1/B per row (1.0 per bucket).
        mb = int(max_bucket)
        # unnamed -> UUID metric name: two concurrent capped pipelines
        # must not cross-populate each other's listener
        guard_obs = Observation()
        over = F.col("__bn") > F.lit(mb)
        band_sig = band_sig.observe(
            guard_obs,
            F.sum(F.when(over, F.lit(1)).otherwise(F.lit(0))).alias("skipped_rows"),
            F.sum(
                F.when(over, F.col("__bn") - F.lit(1)).otherwise(F.lit(0))
            ).alias("skipped_pair_terms"),
            F.sum(
                F.when(over, F.lit(1.0) / F.col("__bn")).otherwise(F.lit(0.0))
            ).alias("skipped_bucket_frac"),
        )
        band_sig = band_sig.filter(
            (F.col("__bn") >= 2) & (F.col("__bn") <= mb)
        ).drop("__bn")
    else:
        guard_obs = None
    buckets = band_sig.groupBy("band", "sig").agg(
        F.array_sort(F.collect_list("doc")).alias("__docs")
    )
    pair_structs = F.expr(
        "flatten(transform(__docs, (x, i) -> "
        "transform(slice(__docs, i + 2, size(__docs) - i - 1), "
        "y -> struct(x as a, y as b))))"
    )
    cand = (
        buckets.filter(F.size("__docs") >= 2)
        .select(F.explode(pair_structs).alias("__p"))
        .select(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .distinct()
    )
    # exact verification on the candidate set only
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    sa = sh.select(F.col("doc").alias("a"), "shingle")
    sb = sh.select(F.col("doc").alias("b"), "shingle")
    inter = (
        cand.join(sa, "a").join(sb, ["b", "shingle"]).groupBy("a", "b").agg(F.count("*").alias("c"))
    )
    out = (
        inter.join(sizes.select(F.col("doc").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("doc").alias("b"), F.col("sz").alias("szb")), "b")
        .select(
            "a", "b", (F.col("c") / (F.col("sza") + F.col("szb") - F.col("c"))).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if guard_obs is not None:
        setattr(out, _GUARD_ATTR, guard_obs)
    return out


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iters: int = 20,
    driver_cap: int = 2_000_000,
) -> DataFrame:
    """Duplicate clusters from a near-dup pair graph: each node labeled with
    the minimum id reachable from it (the cluster's canonical keeper).

    Two exact paths behind a runtime size gate (the spacetime driver_cap
    pattern): the near-dup pair graph is usually TINY next to the corpus
    (it only contains documents with a verified near-duplicate), so when
    the distinct edge list fits the ``driver_cap`` bound it is collected
    once and solved with union-find on the driver — O(E α) and ZERO
    iterative Spark jobs, identical labels by construction. Past the cap,
    iterated min-label propagation: each round joins every node's label
    with its neighbours' labels and takes the min; converges in
    O(diameter) rounds (dup clusters are shallow), checked via a
    driver-side fixpoint count per round. All set-based — works on
    billions of pairs; no GraphFrames dependency.

    Returns (node, component) for every node appearing in pairs.
    """
    # r14: the size-gate count rides the checkpoint job (observation
    # counter — no dedicated .count() job).
    # NOTE (r13): fusing the count+collect pair into one LIMIT cap+1
    # collect was tried and REVERTED — CollectLimit executes with the
    # incremental scale-up strategy (1, then 4, then 16 partitions...),
    # several sequential jobs that measured 1.2-2x SLOWER than the two
    # plain jobs here (pagerank read 2.09x under the same change).
    und, n_und = materialize_counted(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).distinct()
    )
    if n_und <= driver_cap:
        edge_rows = und.collect()
        id_type = dict(pairs.dtypes)[a_col]
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edge_rows:
            a, b = row["src"], row["dst"]
            for v in (a, b):
                if v not in parent:
                    parent[v] = v
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        roots: dict = {}
        for v in parent:
            r = find(v)
            if r not in roots or v < roots[r]:
                roots[r] = v
        labels = [(v, roots[find(v)]) for v in sorted(parent)]
        return local_table(
            pairs.sparkSession, labels, f"node {id_type}, component {id_type}"
        )
    edges = (
        und.union(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    converged = False
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges["dst"] == labels["node"])
            .select(F.col("src").alias("node"), "component")
        )
        new_labels = materialize(  # truncate iterative lineage
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "__old"), "node")
            .filter(F.col("component") != F.col("__old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters} "
            "(a duplicate cluster has a longer diameter); raise max_iters"
        )
    return labels


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """Per-doc SimHash signature: bit i set iff the weighted sum of bit i
    over token hashes is positive (weight = token occurrence count).
    Token hash = md5-derived int, one hex char per 4 signature bits;
    bits <= 60 keeps every shift and the assembled signature inside a
    signed long under ANSI mode (61+ would need 2^63 literals). bits=32
    (default, 8 hex chars) is byte-stable with the r1 gate; bits=60 is
    the corpus-scale parameterization — see simhash_pairs."""
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    toks = df.select(F.col(id_col).alias("doc"), F.explode(tokens_expr(text_col)).alias("w"))
    counted = toks.groupBy("doc", "w").agg(F.count("*").alias("cnt"))
    hashed = counted.select(
        "doc",
        "cnt",
        F.conv(F.substring(F.md5(F.col("w")), 1, (bits + 3) // 4), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # one conditional sum per bit in a single hash aggregate — no 'bits x rows'
    # explode, the vote matrix stays columnar through whole-stage codegen
    votes = hashed.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i) % 2 == 1, F.col("cnt")).otherwise(-F.col("cnt"))
            ).alias(f"__v{i}")
            for i in range(bits)
        ]
    )
    sig_expr = None
    for i in range(bits):
        term = F.when(F.col(f"__v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig_expr = term if sig_expr is None else sig_expr + term
    return votes.select(F.col("doc").alias(id_col), sig_expr.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= d, using the
    pigeonhole chunk trick: signatures within d differ in at most d chunks,
    so any pair shares >= chunks-d exact chunks when chunks > d — join on
    each chunk, then verify exact Hamming distance.

    Scale shape: each (chunk index, chunk value) bucket holds ~N/2^w docs
    (w = bits/chunks) and the join emits ~|bucket|² candidates per bucket
    — so the CHUNK WIDTH, not the corpus, must absorb growth. The
    pigeonhole argument needs ``chunks > max_hamming`` (d flipped bits can
    touch at most d chunks, leaving one exact) and ``bits % chunks == 0``
    (a remainder would leave the top bits outside every chunk) — both
    validated, since violating either silently LOSES candidates. The default
    (bits=32, chunks=4, w=8 → 256 values/chunk) is a small-corpus/test
    parameterization; at corpus scale use ``bits=60, chunks=4`` (w=15 →
    32768 values/chunk, ~4000× fewer candidates at equal N; pytest covers
    the 60-bit path). Candidate volume is ~chunks·N²/2^w — pick w ≳
    log2(N/⟨tolerable bucket⟩)."""
    if chunks <= max_hamming:
        raise ValueError(
            f"pigeonhole needs chunks ({chunks}) > max_hamming ({max_hamming}) "
            "— otherwise near-dup pairs can differ in every chunk and are lost"
        )
    if bits % chunks != 0:
        raise ValueError(
            f"bits ({bits}) must be divisible by chunks ({chunks}) — a "
            "remainder leaves the top bits outside every probed chunk"
        )
    # both sides of the chunk self-join read the signature table —
    # materialize it once. (r13 opt note: a postings-list-expansion
    # rewrite — the r4 minhash shape, one groupBy(k, ch) + in-array pair
    # emission instead of this self-join — was tried and REVERTED on a
    # measured 1.59× loss (ABBA+BAAB, 4 sessions/arm): simhash buckets
    # are many and small (2^w per chunk), so the codegen'd streaming join
    # beats an interpreted flatten/transform pair HOF; the same rewrite
    # WINS on duplicate_spans where the guard+join shuffles dominated.)
    sig = materialize(simhash(df, id_col, text_col, bits))
    w = bits // chunks
    chunk_rows = sig.select(
        F.col(id_col).alias("doc"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        (F.shiftright("simhash", k * w) % (1 << w)).alias("ch"),
                    )
                    for k in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("doc", "simhash", F.col("c.k").alias("k"), F.col("c.ch").alias("ch"))
    left = chunk_rows.select(F.col("doc").alias("a"), F.col("simhash").alias("sa"), "k", "ch")
    right = chunk_rows.select(F.col("doc").alias("b"), F.col("simhash").alias("sb"), "k", "ch")
    cand = left.join(right, ["k", "ch"]).filter(F.col("a") < F.col("b")).select("a", "b", "sa", "sb").distinct()
    ham = cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
    return ham.filter(F.col("hamming") <= max_hamming).select("a", "b", "hamming")


def containment_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: corpus documents that contain a benchmark
    document's n-grams (beyond-reference surface — the standard
    training-data hygiene check before an evaluation run).

    For every (corpus doc a, benchmark doc b) sharing at least one shingle:
    containment(b in a) = |shingles(a) ∩ shingles(b)| / |shingles(b)| —
    containment, not Jaccard, because a short benchmark item embedded in a
    long document should still score 1.0. Pairs with containment >=
    ``min_containment`` are returned as (doc_id, bench_id, overlap,
    containment).

    Plan: the benchmark side is small by definition (an eval set) — its
    postings table is built once and BROADCAST; the corpus streams through
    one hash join keyed on the shingle and one groupBy(a, b). The corpus —
    the 100 TB side — is never shuffled on more than its shingles.
    """
    sh_c = _shingles(corpus, id_col, text_col, n)
    sh_b = materialize(_shingles(benchmark, id_col, text_col, n))
    bench_sizes = sh_b.groupBy("doc").agg(F.count("*").alias("__bsz"))
    overlap = (
        sh_c.join(
            F.broadcast(sh_b.select(F.col("doc").alias("__b"), "shingle")), "shingle"
        )
        .groupBy(F.col("doc").alias("a"), F.col("__b").alias("b"))
        .agg(F.count("*").alias("overlap"))
    )
    return (
        overlap.join(
            F.broadcast(bench_sizes.select(F.col("doc").alias("b"), "__bsz")), "b"
        )
        .select(
            F.col("a").alias("doc_id"),
            F.col("b").alias("bench_id"),
            "overlap",
            F.round(F.col("overlap") / F.col("__bsz"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= min_containment)
    )


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_words: int = 16,
    out: str = "text_deduped",
) -> DataFrame:
    """Corpus-level passage deduplication: split every document into
    consecutive ``n_words``-token passages, keep only the globally FIRST
    occurrence of each distinct passage (ordered by (id, passage index)),
    and reassemble each document from its surviving passages in order.

    This is the passage-granular counterpart of repeated-span removal in
    LLM corpus curation (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better" — exact substring matching there;
    RefinedWeb/Penedo et al. 2023 do it at paragraph granularity):
    boilerplate repeated across pages is removed from every document
    except the first one that contains it, instead of dropping whole
    near-duplicate documents. The fixed-width passage definition keeps
    the operator exactly SQL-expressible (the driver gate mirrors it in
    DuckDB) where a suffix-array span match would not be.

    Output: the input rows (all of them — documents reduced to zero
    passages survive with an empty ``out``) plus
    (n_passages, n_kept, ``out``).

    Scale shape: tokenize + chunk are scan-side array expressions; ONE
    wide shuffle keys the exploded passages by passage text for the
    first-occurrence window (min-struct over the whole partition — no
    sort-by-rank, so a hot boilerplate passage costs a big-but-cheap
    min scan, not a per-row rank); the reassembly groupBy(id) and the
    join back to the corpus co-partition on the id. Passage rows are
    ~|corpus words| / n_words — the shuffle is a fraction of corpus size.
    """
    toks = df.select(
        F.col(id_col).alias("__pid"), tokens_expr(text_col).alias("__toks")
    )
    chunks = F.when(
        F.size("__toks") > 0,
        F.expr(
            f"transform(sequence(0, int(ceil(size(__toks) / {n_words}.0)) - 1), "
            f"i -> concat_ws(' ', slice(__toks, i * {n_words} + 1, {n_words})))"
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    ex = toks.select("__pid", F.posexplode(chunks).alias("__pos", "__passage"))
    w = Window.partitionBy("__passage")
    kept = ex.withColumn(
        "__first", F.min(F.struct(F.col("__pid"), F.col("__pos"))).over(w)
    ).withColumn(
        "__keep",
        (F.col("__pid") == F.col("__first.__pid"))
        & (F.col("__pos") == F.col("__first.__pos")),
    )
    agg = kept.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("__pos", "__passage"))
                    )
                ),
                lambda x: x["__passage"],
            ),
            " ",
        ).alias(out),
    )
    return (
        df.join(agg, F.col(id_col) == F.col("__pid"), "left")
        .drop("__pid")
        .withColumn("n_passages", F.coalesce("n_passages", F.lit(0).cast("long")))
        .withColumn("n_kept", F.coalesce("n_kept", F.lit(0).cast("long")))
        .withColumn(out, F.coalesce(out, F.lit("")))
    )


def fuzzy_dedup_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_hashes: int = 24,
    bands: int = 6,
    threshold: float = 0.8,
    seed: int = 42,
    max_iters: int = 20,
    driver_cap: int = 2_000_000,
    max_bucket: int | None = 100_000,
    quality_col: str | None = None,
) -> DataFrame:
    """End-to-end fuzzy corpus deduplication: MinHash-LSH near-duplicate
    pairs -> connected components over the pair graph -> keep exactly ONE
    representative per duplicate cluster, dropping the rest. Rows in no
    cluster pass through untouched — the output is the INPUT frame
    filtered, ready for the next pipeline stage (the standard
    corpus-curation composition; cf. the GPT-3/Gopher dedup recipes built
    from the same three stages).

    ``quality_col=None`` keeps the minimum id (the CC component label —
    zero extra work). With ``quality_col`` set, the representative is the
    cluster member with the HIGHEST quality (ties -> smallest id; NULL
    quality sorts last) — the production-standard choice (keep the
    longest/cleanest copy, not the accidentally-lowest id). The ranking
    window runs over the near-dup subgraph only (|components| rows), so
    the quality variant costs one small join + window, never a
    corpus-scale shuffle.

    Scale shape: pair generation and clustering run on the (small)
    near-duplicate subgraph only; the final filter is a left_anti join of
    the corpus against the drop list (nodes whose component label differs
    from their own id) — AQE broadcasts it when small, so the 100 TB side
    is shuffled at most once on the id.
    """
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n, n_hashes, bands, threshold, seed,
        max_bucket=max_bucket,
    )
    comp = connected_components(pairs, max_iters=max_iters, driver_cap=driver_cap)
    # connected_components just ran an action over the pair plan (the
    # driver-cap size gate), so the guard observation is populated — log
    # NOW if the cap engaged, so a capped run is never silent (r6 #3)
    stats = lsh_guard_stats(pairs)
    if stats and stats["skipped_rows"]:
        logger.warning(
            "fuzzy_dedup_keep: minhash hot-bucket guard engaged — "
            "%d over-cap buckets skipped (%d memberships, ~%d candidate "
            "pairs not generated; members still pair via their other "
            "bands). Read counters via dedup.lsh_guard_stats(result).",
            stats["skipped_buckets"], stats["skipped_rows"], stats["skipped_pairs"],
        )
    if quality_col is None:
        drop = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        qual = df.select(
            F.col(id_col).alias("node"), F.col(quality_col).alias("__q")
        )
        w = Window.partitionBy("component").orderBy(
            F.col("__q").desc_nulls_last(), F.col("node").asc()
        )
        drop = (
            comp.join(qual, "node")
            .select("node", F.row_number().over(w).alias("__rn"))
            .filter(F.col("__rn") > 1)
            .select(F.col("node").alias(id_col))
        )
    out = df.join(drop, id_col, "left_anti")
    if getattr(pairs, _GUARD_ATTR, None) is not None:
        setattr(out, _GUARD_ATTR, getattr(pairs, _GUARD_ATTR))
    return out


# Fixed-point scale for pagerank's quantized power iteration. 10^15 keeps
# every intermediate double (contrib sums, damping products) below 2^53, so
# FLOOR is exact IEEE and all integer adds commute under any reduction tree
# (the grid_lag quantize lesson applied to an iterative fixpoint).
PR_SCALE = 10**15


def pagerank_longs(src_v, dst_v, damping, max_iters, tol, scale=PR_SCALE):
    """The quantized power iteration as a pure numpy function:
    (sorted unique node array, int64 rank-mass vector q where
    pagerank = q / scale). Shared verbatim by the driver fast path AND
    the DuckDB golden oracle (tools/golden_oracles.pagerank_golden_sql)
    — the bpe_train/dsir shared-pure-function gate pattern.

    Every state transition is exact: ranks live as longs, the per-edge
    weight is FLOOR(q/deg) (one IEEE division of two exact-in-double
    integers, then exact floor), contributions/dangling mass are integer
    sums (order-free), and the update FLOOR(base + d*(contrib +
    dangling/n)) is the same left-associated double expression the
    distributed Spark path evaluates — so repeated runs, both paths, and
    the oracle replication are all bit-identical.
    """
    import numpy as np

    nodes_arr = np.unique(np.concatenate([src_v, dst_v]))
    n = int(nodes_arr.size)
    if n == 0:
        return nodes_arr, np.zeros(0, dtype=np.int64)
    src_i = np.searchsorted(nodes_arr, src_v)
    dst_i = np.searchsorted(nodes_arr, dst_v)
    out_deg = np.zeros(n, dtype=np.int64)
    np.add.at(out_deg, src_i, 1)
    base = (1.0 - damping) / n * scale  # one driver-side float, shared as-is
    tol_q = max(1, int(tol * scale))
    q = np.full(n, scale // n, dtype=np.int64)
    deg_f = out_deg[src_i].astype(np.float64)
    for _ in range(max_iters):
        w = np.floor(q[src_i].astype(np.float64) / deg_f).astype(np.int64)
        contrib = np.zeros(n, dtype=np.int64)
        np.add.at(contrib, dst_i, w)
        dangling = int(q[out_deg == 0].sum())
        new_q = np.floor(
            base
            + damping * (contrib.astype(np.float64) + float(dangling) / float(n))
        ).astype(np.int64)
        done = int(np.abs(new_q - q).max()) < tol_q
        q = new_q
        if done:
            break
    return nodes_arr, q


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    max_iters: int = 30,
    tol: float = 1e-9,
    driver_cap: int = 2_000_000,
) -> DataFrame:
    """PageRank over a directed edge list (beyond-reference; link-based
    quality scoring is a standard web-corpus curation signal — e.g.
    harmonic-centrality / rank filtering in CommonCrawl-derived corpora).

    Returns (node, pagerank) for every node appearing in edges. Dangling
    nodes (no out-edges) redistribute their mass uniformly each step —
    the standard correction, so ranks sum to ~1 (quantization to
    1/PR_SCALE truncates ~n/1e15 of mass per step — invisible at the 6dp
    gate round).

    Both paths run the SAME quantized integer fixpoint (pagerank_longs'
    docstring has the exactness argument): <= ``driver_cap`` distinct
    edges collect once into numpy; past the cap, a distributed
    join-aggregate loop with LONG sums, a lazy broadcast dangling-mass
    frame (no per-iteration collect beyond the delta check), and
    localCheckpoint lineage truncation. Integer state makes the two
    paths — and any shuffle/reduction order — bit-identical, which is
    what upgrades this operator's oracle from rows-only to a strict
    VALUES golden at every SF.
    """
    # r14: the size-gate count rides the checkpoint job (observation
    # counter — no dedicated .count() job)
    e, n_edges = materialize_counted(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    spark = edges.sparkSession
    id_type = dict(edges.dtypes)[src_col]
    scale_f = float(PR_SCALE)
    if n_edges <= driver_cap:
        # Arrow transfer + vectorized node indexing: .collect()'s Row
        # objects cost ~5 s for 600k edges where toPandas is ~0.5 s off
        # the checkpoint. (r13: a LIMIT cap+1 fusion of gate+pull was
        # tried and reverted — CollectLimit's incremental scale-up runs
        # several sequential jobs and measured 2.09x slower here.)
        pdf = e.toPandas()
        nodes_arr, q = pagerank_longs(
            pdf["src"].to_numpy(), pdf["dst"].to_numpy(), damping, max_iters, tol
        )
        # vectorized q/scale is the same correctly-rounded IEEE division
        # as a per-element float(qv)/scale_f — the strict gate's doubles
        # are unchanged
        return local_table(
            spark,
            {
                "node": nodes_arr.tolist(),
                "pagerank": (q.astype("float64") / scale_f).tolist(),
            },
            f"node {id_type}, pagerank double",
        )
    # distributed path. Per-iteration job budget matters as much as data
    # volume (measured at sf0.1: the original loop spent 2 driver actions
    # per iteration — a dangling-mass collect plus the checkpoint — and
    # always ran max_iters). The out-degree aggregate is materialized ONCE
    # (loop-invariant), the dangling mass stays a LAZY one-row aggregate
    # broadcast into the rank update, and a max|delta| check on the
    # checkpointed LONG frames gives the same early exit as the numpy path.
    nodes_df, n_nodes = materialize_counted(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = materialize(e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg")))
    base = (1.0 - damping) / n_nodes * PR_SCALE  # same float as pagerank_longs
    tol_q = max(1, int(tol * PR_SCALE))
    ranks = nodes_df.withColumn("__q", F.lit(int(PR_SCALE // n_nodes)))
    for _ in range(max_iters):
        with_deg = ranks.join(deg, ranks["node"] == deg["src"], "left").select(
            "node", "__q", "__deg"
        )
        dangling = with_deg.filter(F.col("__deg").isNull()).agg(
            F.coalesce(F.sum("__q"), F.lit(0)).cast("long").alias("__dangling")
        )
        # per-edge weight FLOOR(q/deg): exact floor of one IEEE division of
        # two exact-in-double integers; LONG sums per dst commute
        contrib = (
            e.join(with_deg.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.floor(F.col("__q").cast("double") / F.col("__deg").cast("double"))
                ).alias("__c")
            )
        )
        new_ranks = materialize(  # truncate iterative lineage
            nodes_df.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.floor(
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__c"), F.lit(0)).cast("double")
                        + F.col("__dangling").cast("double")
                        / F.lit(float(n_nodes))
                    )
                ).alias("__q"),
            )
        )
        delta = (
            new_ranks.alias("n")
            .join(ranks.alias("o"), "node")
            .agg(F.max(F.abs(F.col("n.__q") - F.col("o.__q"))).alias("d"))
            .collect()[0]["d"]
        )
        ranks = new_ranks
        if delta is not None and delta < tol_q:
            break
    return ranks.select(
        "node", (F.col("__q").cast("double") / F.lit(scale_f)).alias("pagerank")
    )


def split_leakage(
    df: DataFrame,
    split_col: str = "split",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_hashes: int = 24,
    bands: int = 6,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Cross-split leakage audit: near-duplicate pairs whose members sit in
    DIFFERENT splits (train/val/test) — the check every held-out split
    needs before the eval numbers mean anything (fuzzy leakage survives
    exact dedup; cf. the C4/GPT-3 decontamination analyses). A thin
    composition: `minhash_lsh_pairs` over the whole frame (the candidate
    machinery is split-blind, so a near-dup pair is found no matter which
    sides it straddles), then the split labels join on and same-split
    pairs drop.

    Output: (a, b, split_a, split_b, jaccard) with a < b, split_a !=
    split_b. The label joins are id-keyed onto the (tiny) verified-pair
    set — the corpus itself is touched only by the pair machinery, whose
    scale/skew guards (max_bucket, integer-exact hashing) apply unchanged.
    """
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n, n_hashes, bands, threshold, seed,
        max_bucket=max_bucket,
    )
    labels = df.select(F.col(id_col), F.col(split_col))
    la = labels.select(
        F.col(id_col).alias("a"), F.col(split_col).alias("split_a")
    )
    lb = labels.select(
        F.col(id_col).alias("b"), F.col(split_col).alias("split_b")
    )
    out = (
        pairs.join(la, "a")
        .join(lb, "b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("a", "b", "split_a", "split_b", "jaccard")
    )
    # no internal action runs here — the guard observation rides on the
    # result; call dedup.lsh_guard_stats(result) after your own action to
    # learn whether the cap engaged (r6 #3)
    if getattr(pairs, _GUARD_ATTR, None) is not None:
        setattr(out, _GUARD_ATTR, getattr(pairs, _GUARD_ATTR))
    return out


# Eval-side distinct-gram sets up to this many rows join as a broadcast
# (benchmarks are tiny next to the corpus); bigger eval sets fall back to
# a shuffle join. Runtime count, never a Catalyst estimate (r10 lesson:
# post-aggregate size estimates are junk).
EVAL_GRAM_BROADCAST_CAP = 4_000_000


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "doc_id",
    eval_text_col: str = "text",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least ``min_hits`` distinct word ``n``-grams with ANY document of an
    evaluation/benchmark set (the exact-overlap test used to scrub eval
    contamination from pretraining corpora — GPT-3 appendix C / PaLM-style
    n-gram collision checks).

    Output: one row per training doc with at least one n-gram —
    (id_col, n_grams, n_hit_grams, contaminated). ``n_hit_grams`` counts
    the doc's DISTINCT grams that occur anywhere in the eval set. Docs
    with fewer than ``n`` tokens have no grams and are omitted (they
    cannot be contaminated at this gram length).

    Scale shape: the eval side reduces to one distinct-gram set —
    benchmarks are orders of magnitude smaller than the corpus, so it
    broadcasts (runtime-counted gate, EVAL_GRAM_BROADCAST_CAP) and the
    whole operator is a scan-side map join plus ONE groupBy(doc) with
    map-side combine: no corpus-sized shuffle other than the per-doc sum,
    linear at 100 TB."""
    corpus = _shingles(df, id_col, text_col, n)
    # distinct=False: the outer shingle-level distinct subsumes the per-doc
    # one — the inner (doc, shingle) dedup was a redundant second shuffle
    # over the eval set (r13 opt; identical resulting gram set)
    # r14: the broadcast-gate count rides the checkpoint job (observation
    # counter — no dedicated .count() job)
    egr, n_eval_grams = materialize_counted(
        _shingles(eval_df, eval_id_col, eval_text_col, n, distinct=False)
        .select("shingle")
        .distinct()
    )
    eg = egr.withColumn("__hit", F.lit(1))
    if n_eval_grams <= EVAL_GRAM_BROADCAST_CAP:
        eg = F.broadcast(eg)
    per = (
        corpus.join(eg, "shingle", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit_grams"),
        )
    )
    return per.select(
        F.col("doc").alias(id_col),
        "n_grams",
        "n_hit_grams",
        (F.col("n_hit_grams") >= int(min_hits)).alias("contaminated"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_tokens: int = 10,
    max_gram_freq: int | None = 1000,
) -> DataFrame:
    """Substring-level exact duplicate spans across documents (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    the suffix-array ExactSubstr pass, re-expressed at word-``k``-gram
    granularity so it distributes): every maximal run of >= ``min_tokens``
    consecutive tokens shared verbatim between two documents.

    Algorithm: positional k-gram postings (doc, pos, md5(gram)) self-join
    on the gram hash; matches at diagonal d = pos_a - pos_b that are
    CONSECUTIVE in pos_a belong to one shared substring, so a
    gaps-and-islands pass per (a, b, d) merges them into maximal spans of
    span_tokens = max(pos_a) - min(pos_a) + k tokens. All-integer — the
    gate is byte-strict with no float surface.

    Output: (a, b, a_start, b_start, span_tokens), a < b, 1-based token
    positions.

    Scale shape: matches come from postings-list expansion — ONE
    groupBy(gram hash) with in-array pair emission (the minhash_lsh_pairs
    shape; r13, previously a postings self-join). Hot grams are the skew
    risk — ``max_gram_freq`` drops grams occurring more than that many
    times corpus-wide via a windowed count + filter BELOW the
    collect_list (occ(h) == bucket size, so the drop set is exactly the
    old corpus-wide-count anti-join's): the window, the filter and the
    aggregate share ONE gram-hash exchange, and an over-cap gram's rows
    pass through WindowExec's spillable sorter instead of the in-memory
    buffer. With ``max_gram_freq=None`` the per-gram collect_list is
    UNBOUNDED: one gram shared by F postings buffers F structs in a
    single task and emits ~F²/2 pairs — at corpus scale a hot gram
    (boilerplate) means unbounded task memory, so None is strictly an
    exact-mode/small-corpus setting; keep the cap for production runs.
    The islands window partitions by (a, b, diagonal) and the
    span aggregate groups by a superset of those keys, so window +
    aggregate share ONE exchange."""
    toks = df.select(
        F.col(id_col).alias("doc"), tokens_expr(text_col).alias("__toks")
    ).filter(F.size("__toks") >= k)
    grams = F.expr(
        f"transform(sequence(1, size(__toks) - {k - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {k})))"
    )
    g = toks.select("doc", F.posexplode(grams).alias("__p", "__gram")).select(
        "doc",
        (F.col("__p") + 1).cast("long").alias("pos"),
        F.md5("__gram").alias("h"),
    )
    # matches by postings-list expansion (r13 opt, the r4 minhash shape):
    # ONE groupBy(h) + in-array pair emission replaces the postings
    # self-join, and the hot-gram guard becomes a windowed count + filter
    # BELOW the collect_list — the window, the filter and the aggregate
    # share ONE exchange (occ(h) == bucket size, so dropping buckets
    # larger than max_gram_freq is EXACTLY the old corpus-wide-count
    # anti-join), and an over-cap gram's rows flow through WindowExec's
    # spillable sorter before the buffer. This removes the postings
    # checkpoint, the hot-set checkpoint, its count gate and the
    # anti-join — three blocking jobs and two shuffles per build. The
    # emitted (a, b, pa, pb) multiset is identical: postings are unique
    # per (doc, pos), the array is doc-sorted, and the y.doc > x.doc
    # filter reproduces the join's doc < b condition.
    if max_gram_freq is not None:
        w_occ = Window.partitionBy("h")
        g = g.withColumn("__occ", F.count(F.lit(1)).over(w_occ)).filter(
            F.col("__occ") <= int(max_gram_freq)
        ).drop("__occ")
    post = g.groupBy("h").agg(
        F.array_sort(F.collect_list(F.struct("doc", "pos"))).alias("__dp")
    )
    pair_structs = F.expr(
        "flatten(transform(__dp, (x, i) -> "
        "transform(filter(slice(__dp, i + 2, size(__dp) - i - 1), "
        "y -> y.doc > x.doc), "
        "y -> struct(x.doc as a, y.doc as b, x.pos as pa, y.pos as pb))))"
    )
    m = (
        post.filter(F.size("__dp") >= 2)
        .select(F.explode(pair_structs).alias("__p"))
        .select(
            F.col("__p.a").alias("a"),
            F.col("__p.b").alias("b"),
            F.col("__p.pa").alias("pa"),
            F.col("__p.pb").alias("pb"),
            (F.col("__p.pa") - F.col("__p.pb")).alias("dg"),
        )
    )
    w = Window.partitionBy("a", "b", "dg").orderBy("pa")
    brk = F.when(F.col("pa") - F.lag("pa").over(w) == 1, F.lit(0)).otherwise(F.lit(1))
    runs = m.withColumn("__brk", brk).withColumn(
        "run",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        runs.groupBy("a", "b", "dg", "run")
        .agg(
            F.min("pa").alias("a_start"),
            (F.max("pa") - F.min("pa") + F.lit(k)).alias("span_tokens"),
        )
        .select(
            "a",
            "b",
            "a_start",
            (F.col("a_start") - F.col("dg")).alias("b_start"),
            "span_tokens",
        )
        .filter(F.col("span_tokens") >= int(min_tokens))
    )
