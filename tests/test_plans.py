"""Physical-plan assertions: the scale claims, verified against Catalyst.

These tests pin the *plan shapes* the operators are designed around:
pushdown reaching the parquet scan, kernel/interaction tables broadcast,
and chained same-key window ops sharing one shuffle.
"""

import re

import pytest
from pyspark.sql import functions as F

from conftest import make_panel
from views_transformation_library_spark import plans
from views_transformation_library_spark.operators import spatial_grid, temporal

SF = "/root/testdata/sf0.001"


def test_filter_and_projection_pushed_to_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") < 5.0)
        .select("l_orderkey", "l_quantity")
    )
    assert "l_quantity" in plans.pushed_filters(df)
    rs = plans.read_schema(df)
    assert "l_orderkey" in rs and "l_extendedprice" not in rs


def test_chained_windows_share_one_shuffle(spark):
    pn = make_panel(spark, [(t, u, 1.0) for t in range(5) for u in range(3)])
    chained = temporal.moving_average(temporal.delta(temporal.tlag(pn, 1), 1), 3)
    # tlag -> delta -> moving_average all partition by unit_id: one exchange
    assert plans.count_exchanges(chained) == 1


def test_splag4d_broadcasts_kernel(spark):
    pn = make_panel(spark, [(1, p, 1.0) for p in [0, 1, 720, 721]])
    out = spatial_grid.splag4d(pn, 1, 1, 0, 0)
    assert plans.count_broadcasts(out) >= 1


def test_bucketed_panel_window_chain_zero_exchanges(spark):
    from views_transformation_library_spark import panel as P

    pn = make_panel(spark, [(t, u, float(t + u)) for t in range(6) for u in range(4)])
    P.write_bucketed(pn, "panel_bucketed_test", n_buckets=4)
    back = P.read_bucketed(spark, "panel_bucketed_test")
    chained = temporal.moving_average(temporal.tlag(back, 1), 3)
    # bucketed scan reports HashPartitioning(unit_id): whole chain, no shuffle
    assert plans.count_exchanges(chained) == 0
    # and the values are identical to the unbucketed path
    a = sorted(map(tuple, chained.collect()))
    b = sorted(map(tuple, temporal.moving_average(temporal.tlag(pn, 1), 3).collect()))
    assert a == b


def test_cweq_single_shuffle(spark):
    pn = make_panel(spark, [(t, u, float(t % 2)) for t in range(6) for u in (1, 2)])
    out = temporal.cweq(pn, 0)
    # gaps-and-islands stacks windows over (unit) then (unit, block), but
    # hash(unit_id) already satisfies ClusteredDistribution(unit_id, block)
    # -- subset partitioning -- so Catalyst plans ONE exchange total
    assert plans.count_exchanges(out) == 1


def test_embedding_neardup_no_cartesian(spark):
    """neardup must compile to a bucketed equi-join, never an all-pairs
    cartesian (it was a crossJoin in r1 — the 100 TB killer)."""
    import numpy as np

    from views_transformation_library_spark.operators import similarity

    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    out = similarity.embedding_neardup_pairs(df, threshold=0.8, n_blocks=4)
    plan = plans.physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_panel_build_scans_events_once(spark):
    """panel_from_events pins its aggregate before densify: the 3 densify
    branches (times, units, grid join) must read the checkpointed aggregate,
    not re-scan the events source — at 100 TB that is 1 scan vs 3."""
    from views_transformation_library_spark import panel as P

    pn = P.panel_from_events(spark, SF)
    plan = plans.physical_plan(pn)
    # the aggregate is checkpointed (lazily) before densify; the final plan
    # must contain no parquet scan at all — its 3 branches all read the
    # (panel-sized) checkpointed aggregate RDD instead
    assert "events.parquet" not in plan
    assert plan.count("Scan ExistingRDD") == 3


def test_bm25_topk_is_takeordered(spark):
    """The BM25 top-k must be a distributed TakeOrdered over the scored
    set — an unpartitioned rank window there would pull every matched
    doc into one task (the 100 TB killer when a query term is common).
    The only Window allowed is the rank over the <= k survivors."""
    from views_transformation_library_spark.operators import retrieval

    df = spark.createDataFrame(
        [(1, "spark shuffle join"), (2, "spark window"), (3, "pandas udf")],
        schema="doc_id long, text string",
    )
    out = retrieval.bm25_topk(df, ["spark", "join"], k=2)
    plan = plans.physical_plan(out)
    assert "TakeOrderedAndProject" in plan
    # the rank window must sit ABOVE the limit (GlobalLimit/TakeOrdered),
    # never directly over the scored aggregate
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_ann_join_is_cogrouped_not_joined(spark):
    """ann_join must plan as a bucket-cogrouped FlatMapCoGroupsInPandas —
    never a pair-materializing join (no Cartesian/BNLJ; vector payloads
    ship once per bucket side, not once per candidate pair)."""
    import numpy as np

    from views_transformation_library_spark.operators import similarity

    rng = np.random.RandomState(1)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    out = similarity.ann_join(df, df.filter(F.col("vec_id") % 3 == 0),
                              k=2, n_centroids=4, nprobe=2)
    plan = plans.physical_plan(out)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_top_terms_is_takeordered(spark):
    """The top-n must be a distributed TakeOrdered (per-partition top-n,
    driver merge), never an unpartitioned window sort over the full vocab."""
    from views_transformation_library_spark.operators import text

    df = spark.createDataFrame(
        [(1, "a b c a"), (2, "b d e")], schema="doc_id long, text string"
    )
    out = text.vocab_top_terms(df, n=3)
    plan = plans.physical_plan(out)
    assert "TakeOrderedAndProject" in plan


def test_llm_pipeline_single_scan_single_shuffle(spark):
    """The end-to-end pipeline flagship (normalize -> gopher -> where ->
    dedup_keep -> with_expr -> stratified_sample) must compile to ONE
    documents scan with ONE exchange (the dedup fingerprint window):
    normalization, the quality rules, the keep filter and the hash-threshold
    sample are all scan-side expressions. The final pack step checkpoints
    its (id, n_tokens, shard) projection — this pins that everything BEFORE
    the checkpoint is one fused pass over the corpus."""
    import __spark_entry__ as entrymod

    df = spark.read.parquet(f"{SF}/documents.parquet")
    from views_transformation_library_spark import registry

    pre_pack = registry.transform(df, entrymod.LLM_PIPELINE_SPEC[:-1])
    plan = plans.physical_plan(pre_pack)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan
    # and the exchange is the fingerprint window's hash partitioning
    assert "hashpartitioning(_groupingexpression" in plan or "md5" in plan.lower()
    # the keep-filter must NOT be pushed below the normalize projection
    # (alias substitution re-derived the 4-regex chain per Gopher rule —
    # 78 regexp_replace nodes and ~4x the runtime before the reorder)
    assert plan.count("regexp_replace") <= 12, plan.count("regexp_replace")


def test_pack_windows_checkpoints_its_input(spark):
    """pack_windows reads its (id, tokens, shard) projection from TWO plan
    branches (per-shard window + shard-totals aggregate); the projection is
    checkpointed so an expensive upstream pipeline is not executed twice —
    the final plan must contain no parquet scan at all (both branches read
    the pinned RDD)."""
    from views_transformation_library_spark.operators import text

    df = spark.read.parquet(f"{SF}/documents.parquet")
    out = text.pack_windows(df, window=512, shard_size=100)
    plan = plans.physical_plan(out)
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_asof_nearest_single_shuffle(spark):
    """direction='nearest' computes both sweeps in ONE pass: same hash
    partitioning for both window specs -> one exchange, two in-partition
    sorts — never a second shuffle or a join of two asof results."""
    from views_transformation_library_spark.operators import relational

    left = spark.createDataFrame([(1, 1, 10)], "id long, k long, ts long")
    right = spark.createDataFrame([(1, 5, 55.0)], "k long, rts long, val double")
    out = relational.asof_join(
        left, right, "k", "ts", "rts", ["val"], direction="nearest"
    )
    plan = plans.physical_plan(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window [") == 2, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_quantized_topk_roundtrip_evaluated_once_per_side(spark):
    """The quantize-roundtrip (FLOOR chain) must appear exactly once per
    join side in the optimized plan. A zero-norm PRE-filter used to be
    pushed below the projections with alias substitution, re-deriving the
    whole chain in the scan predicate (+1.8 s at sf0.1); the exclusion now
    lives above the rank window."""
    from views_transformation_library_spark.operators import similarity

    vec = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.quantized_cosine_topk(
        vec, vec.filter(F.col("vec_id") % 50 == 0), k=5
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("FLOOR") == 2
    assert plan.count("array_max") == 2


def test_passage_dedup_two_shuffles(spark):
    """passage_dedup: one wide shuffle on the passage key (window min) and
    the id-keyed reassembly/join — no rank sort, no extra scans."""
    from views_transformation_library_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup.passage_dedup(docs, n_words=8)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange") <= 4  # passage, groupBy id, join sides
    assert "SortMergeJoin" in phys or "BroadcastHashJoin" in phys


def test_no_corpus_linear_single_partition_windows():
    """Grep-able scale invariant (VERDICT r4 #3): every unpartitioned Window
    in the package source must sit over a bounded or sublinear input. The
    allowlist is EXACT — adding a new `Window.orderBy(` / `Window.partitionBy()`
    anywhere fails this test until its input bound is justified here.

    Current sites, all bounded:
      sampling.py  weighted_sample rank  — input limit(n), O(n)
      sampling.py  dsir_select rank      — input limit(n_select), O(n)
      retrieval.py bm25 rank            — input limit(k), O(k)
      text.py      vocab_top_terms rank — input limit(n), O(n)
      text.py      corpus_mix total     — input |strata| agg rows
      text.py      pack_windows w_sup   — supershard totals,
                                          N/(shard_size*65536) rows
    """
    import pathlib
    import re

    import views_transformation_library_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    counts: dict[str, int] = {}
    pat = re.compile(r"Window\.orderBy\(|Window\.partitionBy\(\)")
    for p in sorted(root.rglob("*.py")):
        n = sum(1 for line in p.read_text().splitlines() if pat.search(line))
        if n:
            counts[p.name] = n
    assert counts == {"retrieval.py": 1, "sampling.py": 2, "text.py": 3}, counts


def test_one_pin_one_observation_reader_one_env_reader():
    """Grep-able design invariant: the package has one way to pin a frame
    (``panel.materialize``, the only ``localCheckpoint(`` call), one reader
    of an Observation's private JVM handle (``panel.observed_metrics``) and
    reads the environment only in ``session.py``. A new hand-rolled pin,
    private-handle read or environment knob fails this test."""
    import pathlib

    import views_transformation_library_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    needles = {
        "pin": r"localCheckpoint\(",
        "jo": r"\b_jo\b",  # ``obs._jo`` or ``getattr(obs, "_jo")``
        "env": r"os\.environ",
    }
    counts: dict[str, dict[str, int]] = {k: {} for k in needles}
    for p in sorted(root.rglob("*.py")):
        src = p.read_text()
        for key, pat in needles.items():
            n = len(re.findall(pat, src))
            if n:
                counts[key][str(p.relative_to(root))] = n
    assert counts["pin"] == {"panel.py": 1}, counts
    assert set(counts["jo"]) == {"panel.py"}, counts
    assert set(counts["env"]) == {"session.py"}, counts


def test_pack_windows_two_level_shard_bases(spark, monkeypatch):
    """The two-LEVEL prefix sum (shard -> supershard) must equal a global
    cumulative sum when multiple supershards exist. SHARDS_PER_SUPER is
    shrunk so a 30-doc corpus spans 5 supershards (shard span 3 x 2)."""
    from views_transformation_library_spark.operators import text

    monkeypatch.setattr(text, "SHARDS_PER_SUPER", 2)
    rows = [(i, " ".join(["w"] * ((7 * i) % 5 + 1))) for i in range(30)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {
        r["doc_id"]: (r["start_offset"], r["end_offset"])
        for r in text.pack_windows(df, window=8, shard_size=3).collect()
    }
    off = 0
    for i in range(30):
        n = (7 * i) % 5 + 1
        assert out[i] == (off, off + n), (i, out[i], off)
        off += n


def test_minhash_bucket_guard_single_exchange(spark):
    """The hot-bucket guard (windowed count + filter under the
    collect_list) must NOT add a shuffle: window, filter and aggregate
    share one (band, sig) exchange. A count-agg + semi-join formulation
    costs a second band_sig shuffle — this pins the window one."""
    from views_transformation_library_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"some text number {i} with shared tail") for i in range(10)],
        "doc_id long, text string",
    )
    out = dedup.minhash_lsh_pairs(
        df, n=3, n_hashes=8, bands=2, threshold=0.5, max_bucket=100_000
    )
    plan = plans.physical_plan(out)
    n_band_ex = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning(band" in line
    )
    assert n_band_ex == 1, plan
    # r8 guard counters: the CollectMetrics observation must sit BETWEEN
    # the window and the cap filter — if Catalyst ever pushed the __bn
    # filter below it, the counters would only ever see surviving rows
    # (and read all-zero). CollectMetrics is a predicate-pushdown barrier;
    # pin that the metrics node exists and the filter stays above it.
    assert "CollectMetrics" in plan, plan
    lines = plan.splitlines()
    metrics_i = next(i for i, l in enumerate(lines) if "CollectMetrics" in l)
    filt_i = next(
        i for i, l in enumerate(lines)
        if "Filter" in l and "__bn" in l and "100000" in l
    )
    # physical plans print top-down: the filter consuming the metrics node
    # appears ABOVE it (smaller index)
    assert filt_i < metrics_i, plan


def test_ngram_doc_freq_guard_plan_shape(spark):
    """r10 guard design pins: (a) an ENGAGED max_doc_freq cap drops hot
    shingles via a BROADCAST anti-join on the main path — never a Window
    sort and never a size filter on collected arrays (no list ever
    buffers a hot shingle); (b) a cap that drops nothing leaves the main
    plan in the UNCAPPED shape (no join, no window — zero engagement is
    free on the main path)."""
    from views_transformation_library_spark.operators import dedup

    # 6 docs share one ultra-common shingle (df=6 > cap=5) -> engaged
    rows = [(i, f"aa bb cc unique{i} tail{i}") for i in range(6)]
    rows += [(10, "xx yy zz ww"), (11, "xx yy zz ww")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    engaged = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.3, max_doc_freq=5)
    plan = plans.physical_plan(engaged)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "Window" not in plan, plan
    # the collect_list aggregate is never size-FILTERED above (hot
    # shingles were removed BELOW it by the anti-join); size(__docs)
    # appears only inside the pair-expansion transform expression
    assert not [
        l for l in plan.splitlines() if "Filter" in l and "size(__docs" in l
    ], plan

    # cap present but nothing over it -> main plan identical to uncapped
    idle = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.3, max_doc_freq=50)
    idle_plan = plans.physical_plan(idle)
    # no anti-join, no window — the size joins of the jaccard denominator
    # are the uncapped plan's own
    assert "LeftAnti" not in idle_plan and "Window" not in idle_plan, idle_plan
    assert dedup.lsh_guard_stats(idle) == {
        "skipped_rows": 0, "skipped_pairs": 0, "skipped_buckets": 0,
    }


def test_duplicate_spans_window_and_agg_share_one_exchange(spark):
    """The islands window partitions by (a, b, dg) and the span aggregate
    groups by (a, b, dg, run) — subset partitioning must satisfy the
    finer clustering so both run off ONE hashpartitioning exchange (the
    cweq stacked-window invariant, applied to window -> aggregate)."""
    from views_transformation_library_spark.operators import dedup

    rows = [(i, "a b c d e f g h " + f"t{i}") for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.duplicate_spans(df, k=3, min_tokens=3, max_gram_freq=100)
    plan = plans.physical_plan(out)
    assert plan.count("Exchange hashpartitioning(a#") == 1, plan
    # lag + running sum over (a,b,dg) plus the r13 hot-gram count window
    # over (h) — which must share the gram-hash exchange with the
    # postings collect_list aggregate (guard-below-the-buffer shape)
    assert plan.count("Window") == 3, plan
    assert plan.count("Exchange hashpartitioning(h#") == 1, plan
    # guard-OFF shape (max_gram_freq=None, the exact/small-corpus mode —
    # the docstring's unbounded-collect_list caveat): the count window
    # disappears but the postings aggregate keeps its single gram-hash
    # exchange and the islands pair keeps its single (a,b,dg) exchange
    out_off = dedup.duplicate_spans(df, k=3, min_tokens=3, max_gram_freq=None)
    p_off = plans.physical_plan(out_off)
    assert p_off.count("Exchange hashpartitioning(a#") == 1, p_off
    assert p_off.count("Exchange hashpartitioning(h#") == 1, p_off
    assert p_off.count("Window") == 2, p_off


# ---------------------------------------------------------------------------
# sketch / BPE / quantile plan pins (r10): the scale properties these
# families are designed around, asserted against Catalyst


def test_hll_distinct_two_exchanges_partial_agg(spark):
    from views_transformation_library_spark.operators import sketches

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = sketches.hll_distinct(li, "l_partkey", ["l_returnflag"], p=8)
    p = plans.physical_plan(out)
    # register aggregate + per-group final: exactly two wide exchanges,
    # both hash-aggregated (map-side partial combine collapses each task
    # to <= m rows/group BEFORE the shuffle — the O(sketch) property)
    assert plans.count_exchanges(out) == 2
    assert "HashAggregate" in p


def test_bloom_prefilter_broadcasts_position_set(spark):
    from views_transformation_library_spark.operators import sketches

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    out = sketches.bloom_prefilter(orders, "o_custkey", cust, "c_custkey",
                                   n_bits=1 << 14, n_hashes=3)
    # the <= n_bits distinct-position set is the build side
    assert plans.count_broadcasts(out) >= 1
    p = plans.physical_plan(out)
    assert "BroadcastHashJoin" in p


def test_cm_estimate_broadcasts_sketch_not_corpus(spark):
    from views_transformation_library_spark.operators import sketches

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.explode(F.split(F.lower("text"), " ")).alias("t")
    )
    out = sketches.cm_estimate(docs, "t", ["the", "a"], depth=2, width=64)
    p = plans.physical_plan(out)
    assert "BroadcastHashJoin" in p
    # the probe side never shuffles the corpus: the only wide exchanges
    # belong to the bounded sketch aggregate (+ the tiny final groupBy)
    assert plans.count_exchanges(out) <= 3


def test_bpe_encode_zero_shuffle_single_arrow_pass(spark):
    from views_transformation_library_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = text_ops.bpe_learn({"the": 3, "quick": 2}, 3)
    out = text_ops.bpe_encode(docs, merges)
    p = plans.physical_plan(out)
    assert plans.count_exchanges(out) == 0  # scan -> narrow map, no shuffle
    assert p.count("MapInPandas") == 1


def test_exact_quantiles_null_filter_pushed(spark):
    from views_transformation_library_spark.operators import profiling

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = profiling.exact_quantiles(li, "l_extendedprice", (50,), ["l_returnflag"])
    # the NOT NULL filter reaches the parquet scan; percents broadcast
    assert "l_extendedprice" in plans.pushed_filters(out)
    assert plans.count_broadcasts(out) >= 1


def test_hll_overlap_scans_each_corpus_once(spark):
    """hll_overlap's register tables each feed two branches (own s_scaled
    + the union); they must be materialized so the corpus parquet scans
    run once per side — at 100 TB that is 2 scans vs 4. Since r13 the two
    per-side checkpoints are ONE side-tagged union checkpoint (both scans
    inside a single blocking job): the final plan reads exactly THREE
    branches (s_a, s_b, union registers) of the same checkpointed RDD."""
    from views_transformation_library_spark.operators import sketches

    a = spark.read.parquet(f"{SF}/orders.parquet")
    b = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = sketches.hll_overlap(a, b.withColumnRenamed("l_orderkey", "o_custkey"),
                               "o_custkey", p=8)
    p = plans.physical_plan(out)
    assert "orders.parquet" not in p and "lineitem.parquet" not in p
    assert p.count("Scan ExistingRDD") == 3
    out.collect()


def test_approx_quantiles_hist_plan_shape(spark):
    """r12: the histogram tier's whole scale story is in the plan — the
    NOT NULL filter reaches the scan, bucket assignment is a pure column
    expression (no UDF nodes), the percent table broadcasts, and the only
    wide exchanges are the bounded bucket aggregate + the per-group
    window (<= n_buckets rows/group after map-side combine)."""
    from views_transformation_library_spark.operators import profiling

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = profiling.approx_quantiles_hist(
        li, "l_extendedprice", lo=0.0, hi=110_000.0, n_buckets=256,
        percents=(50,), group_cols=["l_returnflag"],
    )
    p = plans.physical_plan(out)
    assert "l_extendedprice" in plans.pushed_filters(out)
    assert plans.count_broadcasts(out) >= 1
    assert plans.count_exchanges(out) <= 2
    assert "MapInPandas" not in p and "BatchEvalPython" not in p


def test_profile_sketch_register_pass_plan(spark):
    """r12: one corpus scan feeds ALL columns' registers (the explode),
    and both aggregates hash-combine map-side — the shuffles are
    O(cols x m), never O(rows)."""
    from views_transformation_library_spark.operators import profiling

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = profiling.profile_sketch(li, ["l_orderkey", "l_partkey"], p=6)
    p = plans.physical_plan(out)
    # exact-stats scalar agg (single-partition final over 1-row partials,
    # the pinned-allowlist class) + register groupBy(column, idx) +
    # per-column final + the broadcast join of the two tiny sides
    assert plans.count_broadcasts(out) >= 1
    # ONE explode pass for all columns (the other Generate is the
    # exact-stats stack() melt over the 1-row aggregate)
    assert p.count("Generate explode") == 1
    assert "HashAggregate" in p


def _leaves(plan: str, node: str) -> list[str]:
    """Column lists of every ``node`` leaf, expression ids stripped."""
    return [
        ", ".join(c.strip() for c in re.sub(r"#\d+L?", "", cols).split(","))
        for cols in re.findall(re.escape(node) + r"\s*\[([^\]]*)\]", plan)
    ]


_PANEL = "time_id, unit_id, value"
_BOXES = "time_id, __lvl, __bx, __by, value"


@pytest.mark.parametrize(
    "op, side_tables, pins",
    [
        ("spatial_tree_lag", ["pgid, lvl, bx, by, w"], [_PANEL] * 2),
        ("temporal_tree_lag", ["tnow, s, e, fn, w", "t, s, e, sgn"], [_PANEL] * 2),
        ("grid_lag", ["__k, __w_0"], [_PANEL] * 2 + [_BOXES] * 3),
        ("splag4d", ["dx, dy, w"], [_PANEL] * 2),
        ("exact_quantiles", ["percent"], []),
    ],
)
def test_side_tables_are_local_table_scans(spark, op, side_tables, pins):
    """Driver-built side tables (interaction lists, boundary, weight and
    kernel tables, percent lists) are Arrow LocalRelations: each plans as
    a LocalTableScan, and every ``Scan ExistingRDD`` left in the plan is one
    of the operator's own checkpoint pins. A pickled side table would add
    a ``Scan ExistingRDD`` leaf whose first read starts Python workers."""
    from views_transformation_library_spark.operators import profiling, trees

    cells = [(r, c) for r in range(4) for c in range(4)]
    grid = make_panel(
        spark, [(t, r * 720 + c + 1, float(t + r + c)) for t in range(3) for r, c in cells]
    )
    tpan = make_panel(spark, [(t, u, float(t * u)) for t in range(8) for u in range(3)])
    out = {
        "spatial_tree_lag": lambda: trees.spatial_tree_lag(grid, 0.5, 0),
        "temporal_tree_lag": lambda: trees.temporal_tree_lag(tpan, 0.5, "uniform"),
        "grid_lag": lambda: trees.grid_lag(grid, 50.0, 0),
        "splag4d": lambda: spatial_grid.splag4d(grid, 1, 1, 0, 0),
        "exact_quantiles": lambda: profiling.exact_quantiles(tpan, "value"),
    }[op]()
    plan = plans.physical_plan(out)
    local = _leaves(plan, "LocalTableScan")
    for cols in side_tables:
        assert cols in local, (cols, local)
    assert sorted(_leaves(plan, "Scan ExistingRDD")) == sorted(pins)
