"""Beyond-reference operators: text analysis, dedup, similarity, multimodal."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import forbid_count
from views_transformation_library_spark.operators import (
    dedup,
    multimodal,
    sampling,
    similarity,
    text,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the cat sat on the mat and the dog sat too"),
        (2, "the cat sat on the mat and the dog sat too"),  # exact dup of 1
        (3, "the cat sat on the mat and the dog stood too"),  # near dup
        (4, "el gato y el perro en la casa que se ve por la noche"),
        (5, "completely different words entirely unrelated topic zebra"),
        (6, "!!! ??? ### $$$ %%%"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def _rows_without_count(monkeypatch, build):
    """Sorted rows of ``build()`` from a normal run and from a run with
    ``DataFrame.count`` patched to raise. Size gates read their count off
    the checkpoint job's Observation, so the second build must not call
    ``count`` and must give the same rows."""
    first = build()
    expected = sorted(first.collect())
    forbid_count(monkeypatch, first)
    got = sorted(build().collect())
    assert expected
    return expected, got


# ---------------------------------------------------------------------------
# text

def test_token_count(docs):
    out = {r["doc_id"]: r["n_tokens"] for r in text.token_count(docs).collect()}
    assert out[1] == 11 and out[6] == 5 and out[7] == 0


def test_lang_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[4] == "es"
    assert out[6] == "und" and out[7] == "und"


def test_quality_score(docs):
    out = {r["doc_id"]: r["quality"] for r in text.quality_score(docs).collect()}
    assert out[7] == 0.0
    assert out[1] > out[6]  # natural text beats symbol soup
    assert 0.0 <= min(out.values()) and max(out.values()) <= 1.0


def test_unigram_logprob_frequency_ordering(spark):
    # "common" appears many times corpus-wide, "rare" once: a doc made of
    # common tokens must score higher (less negative) per token than one
    # containing the rare token; empty doc passes through with 0 tokens.
    rows = [
        (1, "common common common common"),
        (2, "common rare"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.unigram_logprob(df).collect()}
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]
    assert out[3]["n_tokens"] == 0 and out[3]["sum_logprob"] is None
    # exact check: p(common) = (5 + .5) / (6 + .5 * 2)
    import math
    lp_common = round(math.log(5.5 / 7.0), 6)
    assert out[1]["sum_logprob"] == pytest.approx(4 * lp_common, abs=1e-6)


def test_unigram_logprob_partition_invariance(spark):
    rows = [(i, f"tok{i % 3} shared shared") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["sum_logprob"]
         for r in text.unigram_logprob(df).collect()}
    b = {r["doc_id"]: r["sum_logprob"]
         for r in text.unigram_logprob(df.repartition(13)).collect()}
    assert a == b


def test_fingerprint_normalization(spark):
    rows = [(1, "  Hello   World "), (2, "hello world"), (3, "hello  world!")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


# ---------------------------------------------------------------------------
# dedup

def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).collect()
    groups = {r["keep_id"]: r["n_copies"] for r in out}
    assert groups[1] == 2  # docs 1 and 2 identical, keeper = min id
    assert groups[3] == 1


def test_passage_dedup_first_occurrence_semantics(spark):
    rows = [
        (1, "a b c d e f"),   # passages (n=3): "a b c", "d e f" — both first
        (2, "a b c x y z"),   # "a b c" already seen in doc 1 -> removed
        (3, "d e f d e f"),   # both passages dup (first "d e f" is doc 1's)
        (4, ""),              # zero passages, survives with empty text
        (5, "q r"),           # short doc -> one sub-width passage
        (6, "q r"),           # exact dup of doc 5's passage
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.passage_dedup(df, n_words=3).collect()}
    assert (out[1]["n_passages"], out[1]["n_kept"]) == (2, 2)
    assert out[1]["text_deduped"] == "a b c d e f"
    assert out[2]["text_deduped"] == "x y z"
    assert (out[3]["n_kept"], out[3]["text_deduped"]) == (0, "")
    assert (out[4]["n_passages"], out[4]["text_deduped"]) == (0, "")
    assert out[5]["text_deduped"] == "q r" and out[6]["text_deduped"] == ""


def test_passage_dedup_partition_invariance(spark):
    # first-occurrence is defined by (id, pos), not physical row order
    rows = [(i, "dup passage text here") for i in range(10, 0, -1)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    out = dedup.passage_dedup(df, n_words=4).collect()
    kept = sorted(r["doc_id"] for r in out if r["n_kept"] == 1)
    assert kept == [1]


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0  # near dup above 0.5
    assert all(a < b for (a, b) in pairs)
    assert not any({a, b} & {4, 5, 6, 7} for (a, b) in pairs)


def test_ngram_jaccard_pairs_gate_reads_no_count(docs, monkeypatch):
    expected, got = _rows_without_count(
        monkeypatch, lambda: dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.5)
    )
    assert got == expected


def test_minhash_lsh_finds_planted_dups(docs):
    out = {(r["a"], r["b"]): r["jaccard"] for r in
           dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in out  # identical -> all bands collide
    # candidates are verified: no pair below the threshold
    assert all(j >= 0.5 for j in out.values())


def test_minhash_candidates_subset_of_exact(spark):
    # LSH verified pairs must be a subset of brute-force jaccard pairs
    rng = np.random.RandomState(21)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        words = [vocab[j] for j in rng.choice(30, size=20)]
        rows.append((i, " ".join(words)))
    rows.append((100, rows[0][1]))  # plant an exact dup
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    exact = {(r["a"], r["b"]) for r in
             dedup.ngram_jaccard_pairs(df, n=2, threshold=0.8).collect()}
    lsh = {(r["a"], r["b"]) for r in
           dedup.minhash_lsh_pairs(df, threshold=0.8).collect()}
    assert lsh <= exact
    assert (0, 100) in lsh  # exact dup always found


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3, pair (10,11), isolated pair (20,30): three clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 30)], schema="a long, b long"
    )
    out = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 30: 20}


def test_connected_components_gate_reads_no_count(spark, monkeypatch):
    # driver path: the distributed loop's per-round fixpoint check is a
    # real count, not a size gate
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 30)], schema="a long, b long"
    )
    expected, got = _rows_without_count(
        monkeypatch, lambda: dedup.connected_components(pairs)
    )
    assert got == expected


def test_fuzzy_dedup_keep_end_to_end(spark):
    # three exact copies (1,2,100) + one unrelated doc: keeper is min id,
    # all non-clustered rows pass through untouched
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base), (2, base), (100, base), (7, "totally different words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r["doc_id"]
        for r in dedup.fuzzy_dedup_keep(df, n=2, threshold=0.8).collect()
    )
    assert kept == [1, 7]


def test_fuzzy_dedup_keep_quality_representative(spark):
    # same cluster, but the QUALITY policy keeps the highest-quality
    # member (ties -> smallest id), not the min id; NULL quality loses
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, 5.0), (2, base, 9.0), (100, base, 9.0),
        (7, "totally different words here", 1.0),
        (3, base, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")
    kept = sorted(
        r["doc_id"]
        for r in dedup.fuzzy_dedup_keep(
            df, n=2, threshold=0.8, quality_col="q"
        ).collect()
    )
    assert kept == [2, 7]  # max q=9.0, tie broken by id 2 < 100; NULL last
    # quality_col=None still keeps the min id (unchanged contract)
    kept_min = sorted(
        r["doc_id"]
        for r in dedup.fuzzy_dedup_keep(df, n=2, threshold=0.8).collect()
    )
    assert kept_min == [1, 7]


def test_dedup_clusters_end_to_end(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.5)
    comps = dedup.connected_components(pairs)
    out = {r["node"]: r["component"] for r in comps.collect()}
    # docs 1, 2, 3 form one near-dup cluster with keeper 1
    assert out[1] == 1 and out[2] == 1 and out[3] == 1


def test_token_count_bpe(docs):
    out = {r["doc_id"]: r["n_bpe_tokens"] for r in text.token_count_bpe(docs).collect()}
    assert out[7] == 0
    assert out[1] >= 11  # at least one token per word
    assert out[6] > 0  # punctuation runs count


def test_simhash_identical_and_distance(docs):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sig[1] == sig[2]
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             dedup.simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    # near-dup 1-3 within small hamming distance
    assert (1, 3) in pairs


# ---------------------------------------------------------------------------
# similarity

@pytest.fixture()
def vectors(spark):
    rng = np.random.RandomState(33)
    rows = []
    base = rng.randn(8)
    for i in range(20):
        v = rng.randn(8)
        rows.append((i, [float(x) for x in v]))
    rows.append((100, [float(x) for x in base]))
    rows.append((101, [float(x) for x in (base + 0.01 * rng.randn(8))]))  # near dup of 100
    return spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")


def test_quantize_embeddings_roundtrip_bound(vectors):
    # |dequant - x| <= scale/2 per element; zero vector -> scale 0, all-zero q
    from views_transformation_library_spark.operators.similarity import (
        dequantize_expr,
        quantize_embeddings,
    )
    df = vectors.union(
        vectors.sparkSession.createDataFrame(
            [(200, [0.0] * 8)], "vec_id long, embedding array<float>"
        )
    )
    out = quantize_embeddings(df).withColumn("dq", dequantize_expr()).collect()
    for r in out:
        assert all(-127 <= qi <= 127 for qi in r["q"])
        if r["scale"] == 0.0:
            assert all(qi == 0 for qi in r["q"]) and r["vec_id"] == 200
            continue
        for x, d in zip(r["embedding"], r["dq"]):
            assert abs(float(x) - d) <= r["scale"] / 2 + 1e-12


def test_quantized_topk_recall_vs_float(vectors):
    queries = vectors.filter(F.col("vec_id") == 100)
    exact = {r["neighbor_id"] for r in
             similarity.cosine_topk(vectors, queries, k=5).collect()}
    quant = {r["neighbor_id"] for r in
             similarity.quantized_cosine_topk(vectors, queries, k=5).collect()}
    # int8 reconstruction keeps ~2 decimal places of each coordinate:
    # the top-5 neighbour set should be nearly unchanged on this geometry
    assert len(exact & quant) >= 4
    # and the planted near-dup is always found first
    top = similarity.quantized_cosine_topk(vectors, queries, k=1).collect()[0]
    assert top["neighbor_id"] == 101


def test_cosine_topk_exact(vectors):
    queries = vectors.filter(F.col("vec_id") == 100)
    out = similarity.cosine_topk(vectors, queries, k=3).collect()
    assert len(out) == 3
    top = sorted(out, key=lambda r: r["rank"])[0]
    assert top["neighbor_id"] == 101  # planted near-dup is the nearest
    assert top["cosine"] > 0.99
    # differential vs numpy brute force
    pdf = vectors.toPandas().set_index("vec_id")["embedding"]
    q = np.array(pdf[100], dtype=np.float64)
    sims = {}
    for vid, vec in pdf.items():
        if vid == 100:
            continue
        v = np.array(vec, dtype=np.float64)
        sims[vid] = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
    expected_top3 = sorted(sims, key=lambda i: (-round(sims[i], 6), i))[:3]
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == expected_top3


def test_embedding_neardup(vectors):
    pairs = {(r["a"], r["b"]) for r in
             similarity.embedding_neardup_pairs(vectors, threshold=0.95).collect()}
    assert pairs == {(100, 101)}


def test_ivf_topk_recall_and_determinism(vectors):
    from pyspark.sql import functions as FF

    queries = vectors.filter(FF.col("vec_id") == 100)
    out1 = similarity.ivf_topk(vectors, queries, k=3, n_centroids=4, nprobe=2)
    rows1 = sorted((r["neighbor_id"], r["rank"]) for r in out1.collect())
    # the planted near-dup lands in the same centroid bucket as its twin
    assert any(nid == 101 and rank == 1 for (nid, rank) in rows1)
    # deterministic across runs (fixed seed + id-ordered sample)
    out2 = similarity.ivf_topk(vectors, queries, k=3, n_centroids=4, nprobe=2)
    rows2 = sorted((r["neighbor_id"], r["rank"]) for r in out2.collect())
    assert rows1 == rows2


def test_zero_norm_vector_does_not_crash(spark):
    # ANSI mode is on by default in Spark 4: unguarded /0 would throw
    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    q = df.filter("vec_id = 1")
    out = similarity.cosine_topk(df, q, k=5).collect()
    assert {r["neighbor_id"] for r in out} == {3}  # zero-norm vec 2 dropped
    pairs = similarity.embedding_neardup_pairs(df, threshold=-1.0).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 3)}


def test_lsh_and_ivf_empty_vectors(spark):
    empty = spark.createDataFrame([], schema="vec_id long, embedding array<float>")
    assert similarity.lsh_topk(empty, empty, k=3).count() == 0
    assert similarity.ivf_topk(empty, empty, k=3).count() == 0


def test_minhash_band_validation(docs):
    with pytest.raises(ValueError):
        dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=16)
    with pytest.raises(ValueError):
        dedup.minhash_lsh_pairs(docs, n_hashes=24, bands=5)


def test_connected_components_nonconvergence_raises(spark):
    # a 6-node chain needs ~5 rounds; max_iters=2 must raise, not lie
    # (driver_cap=0 forces the distributed path — the union-find fast
    # path solves any driver-sized graph without iterating)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], schema="a long, b long"
    )
    with pytest.raises(RuntimeError):
        dedup.connected_components(pairs, max_iters=2, driver_cap=0)


def test_connected_components_paths_agree(spark):
    # union-find fast path == distributed propagation on the same graph
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 30), (30, 21)],
        schema="a long, b long",
    )
    fast = {(r["node"], r["component"])
            for r in dedup.connected_components(pairs).collect()}
    dist = {(r["node"], r["component"])
            for r in dedup.connected_components(pairs, driver_cap=0).collect()}
    assert fast == dist
    assert (4, 1) in fast and (21, 20) in fast


def test_lsh_topk_recall(vectors):
    queries = vectors.filter(F.col("vec_id") == 100)
    out = similarity.lsh_topk(vectors, queries, k=3, n_planes=4).collect()
    # the planted near-dup shares the bucket with its twin (tiny perturbation)
    assert any(r["neighbor_id"] == 101 for r in out)
    assert all(r["query_id"] == 100 for r in out)


# ---------------------------------------------------------------------------
# multimodal

def test_multimodal_plumbing(docs):
    media = multimodal.attach_binary(docs.filter(F.col("doc_id") <= 3))
    assert dict(media.dtypes)["payload"] == "binary"
    feats = multimodal.extract_features(media).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == len("the cat sat on the mat and the dog sat too")
    assert by_id[1]["checksum"] == by_id[2]["checksum"]  # identical payloads
    assert by_id[1]["feat1"] == float(ord("t"))


def test_multimodal_real_decoder_nonimage_fallback(docs):
    """decode_stub=False is REAL in a bare container (r6): PPM/BMP decode
    pure-python; a text payload parses as neither → deterministic
    byte-statistics fallback, row kept, no library required."""
    media = multimodal.attach_binary(docs.filter(F.col("doc_id") == 1))
    rows = multimodal.extract_features(media, decode_stub=False).collect()
    assert rows[0]["feat1"] == float(ord("t"))


def test_ppm_bmp_roundtrip_and_real_decode(spark):
    """Pure-python decoder vs pure-python encoders: exact header parse,
    dimensions, pixel sums — via the REAL decode_stub=False Spark path."""
    rgb = bytes(range(24))  # 4x2 image, 24 pixel bytes, sum 276
    ppm = multimodal.encode_ppm(4, 2, rgb)
    bmp = multimodal.encode_bmp(4, 2, rgb)
    # direct decoder: identical stats for both formats (padding stripped,
    # BGR swap irrelevant to sums)
    for payload in (ppm, bmp):
        w, h, s, n = multimodal.decode_image_bytes(payload)
        assert (w, h, s, n) == (4, 2, 276, 24)
    # comment + extra whitespace in the PPM header parse
    commented = b"P6\n# a comment\n 4\t2\n255\n" + rgb
    assert multimodal.decode_image_bytes(commented) == (4, 2, 276, 24)
    with pytest.raises(ValueError):
        multimodal.decode_image_bytes(b"P6\n4 2\n255\n" + rgb[:-1])  # truncated
    with pytest.raises(ValueError):
        multimodal.decode_image_bytes(b"GIF89a not supported")
    df = spark.createDataFrame(
        [(1, "img", bytearray(ppm), None, None, None),
         (2, "img", bytearray(bmp), None, None, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in
           multimodal.extract_features(df, decode_stub=False).collect()}
    for mid, payload in ((1, ppm), (2, bmp)):
        assert out[mid]["feat0"] == 276 / 24
        assert out[mid]["feat1"] == 2.0  # 4/2 aspect
        assert out[mid]["checksum"] == sum(payload) % 1_000_000_007
        assert out[mid]["n_bytes"] == len(payload)


def test_attach_image_synthesis_decodes_for_real(docs):
    """attach_image emits genuine P6 files; the real-decode path recovers
    the synthesized geometry and md5-tiled pixel statistics exactly."""
    import hashlib

    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    media = multimodal.attach_image(docs)
    feats = {r["media_id"]: r for r in
             multimodal.extract_features(media, decode_stub=False).collect()}
    for did, text in rows.items():
        h = 8 + did % 8
        n = 48 * h
        digest = hashlib.md5(text.encode()).hexdigest().encode()
        pix = (digest * (n // 32 + 1))[:n]
        header = b"P6\n16 %d\n255\n" % h
        assert feats[did]["n_bytes"] == len(header) + n
        assert feats[did]["feat0"] == sum(pix) / n
        assert feats[did]["feat1"] == 16 / h
        assert feats[did]["checksum"] == (sum(header) + sum(pix)) % 1_000_000_007


@pytest.mark.skipif(multimodal._PIL is None, reason="PIL not installed")
def test_multimodal_real_decoder_decodes_png(spark):  # pragma: no cover
    img = multimodal._PIL.new("L", (4, 2), color=7)
    import io as _io

    buf = _io.BytesIO()
    img.save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, "img", bytearray(buf.getvalue()), None, None, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.extract_features(df, decode_stub=False).collect()[0]
    assert row["feat0"] == 7.0  # mean pixel
    assert row["feat1"] == 2.0  # 4/2 aspect


def test_frame_sample(spark):
    rows = [(1, "vid", bytearray(b"xx"), None, None, 3000)]
    df = spark.createDataFrame(
        rows, schema=multimodal.MEDIA_SCHEMA
    )
    out = multimodal.frame_sample(df, every_ms=1000).collect()
    assert [r["frame_idx"] for r in out] == [0, 1, 2]
    assert [r["ts_ms"] for r in out] == [0, 1000, 2000]
    # non-PPM payload -> metadata-only fallback: no dims, no frame bytes
    assert all(r["payload"] is None and r["width"] is None for r in out)


def test_resize_image_real(spark):
    """r8: nearest-neighbor resize on REAL rasters. A 2x2 PPM with four
    distinct solid pixels upscaled to 4x4 must replicate each source
    pixel into its 2x2 quadrant (the exact integer NN map); BMP input
    decodes through the same path and re-encodes as PPM."""
    px = [b"\xff\x00\x00", b"\x00\xff\x00", b"\x00\x00\xff", b"\xff\xff\x00"]
    rgb = px[0] + px[1] + px[2] + px[3]
    rows = [
        (1, "image", bytearray(multimodal.encode_ppm(2, 2, rgb)), 2, 2, None),
        (2, "image", bytearray(multimodal.encode_bmp(2, 2, rgb)), 2, 2, None),
        (3, "blob", bytearray(b"not an image"), None, None, None),
    ]
    df = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in multimodal.resize_image(df, 4, 4).collect()}
    for mid in (1, 2):
        r = out[mid]
        assert (r["width"], r["height"]) == (4, 4)
        w, h, pix = multimodal.decode_image_rgb(bytes(r["payload"]))
        assert (w, h) == (4, 4)
        # quadrant check: pixel (x, y) comes from source (x*2//4, y*2//4)
        for y in range(4):
            for x in range(4):
                src = px[(y // 2) * 2 + (x // 2)]
                assert pix[3 * (4 * y + x) : 3 * (4 * y + x) + 3] == src
    # unparseable row passes through untouched
    assert bytes(out[3]["payload"]) == b"not an image"
    assert out[3]["width"] is None
    # downscale is the identity on the kept pixels: 2x2 -> 1x1 keeps (0,0)
    one = multimodal.resize_image(
        spark.createDataFrame(rows[:1], schema=multimodal.MEDIA_SCHEMA), 1, 1
    ).collect()[0]
    assert multimodal.decode_image_rgb(bytes(one["payload"]))[2] == px[0]


def test_frame_sample_real(spark):
    """r8: frame sampling over a real concatenated-PPM container —
    sampled rows carry the ACTUAL frame bytes at the integer nearest-
    frame index, and attach_video -> frame_sample round-trips."""
    f0 = multimodal.encode_ppm(2, 1, b"\x01\x01\x01\x02\x02\x02")
    f1 = multimodal.encode_ppm(2, 1, b"\x03\x03\x03\x04\x04\x04")
    f2 = multimodal.encode_ppm(2, 1, b"\x05\x05\x05\x06\x06\x06")
    container = f0 + f1 + f2
    # 3 frames over 3000 ms -> frame i covers [1000i, 1000(i+1))
    df = spark.createDataFrame(
        [(7, "video", bytearray(container), 2, 1, 3000)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    out = sorted(
        multimodal.frame_sample(df, every_ms=1500).collect(),
        key=lambda r: r["ts_ms"],
    )
    # samples at t=0 (frame 0) and t=1500 (frame 1500*3//3000 = 1)
    assert [(r["ts_ms"], r["frame_idx"]) for r in out] == [(0, 0), (1500, 1)]
    assert bytes(out[0]["payload"]) == f0
    assert bytes(out[1]["payload"]) == f1
    assert (out[0]["width"], out[0]["height"]) == (2, 1)

    # synthesized video: deterministic frame count and decodable frames
    docs = spark.createDataFrame(
        [(5, "hello world"), (6, "other text")], "doc_id long, text string"
    )
    vids = multimodal.attach_video(docs)
    meta = {r["media_id"]: r for r in vids.collect()}
    assert meta[5]["duration_ms"] == (2 + 5 % 4) * 40
    frames = multimodal.split_video_frames(bytes(meta[6]["payload"]))
    assert len(frames) == 2 + 6 % 4
    sampled = multimodal.frame_sample(vids, every_ms=40).collect()
    # every sampled frame payload is a real decodable PPM
    for r in sampled:
        w, h, pix = multimodal.decode_image_rgb(bytes(r["payload"]))
        assert (w, h) == (r["width"], r["height"])


def test_ivf_training_sample_is_bounded(vectors):
    # cap 10 on a 112-row table -> sample_mod 12 -> driver pulls ~1/12th;
    # training still yields usable centroids and the query still runs
    cents = similarity.train_ivf_centroids(
        vectors, n_centroids=4, vec_col="embedding", sample_cap=10
    )
    assert 1 <= len(cents) <= 4
    queries = vectors.filter(F.col("vec_id") == 100)
    out = similarity.ivf_topk(vectors, queries, k=3, centroids=cents, nprobe=2)
    assert out.count() <= 3


def test_containment_pairs_planted(spark, docs=None):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "prefix words the quick brown fox jumps over the lazy dog tonight and more trailing text here"),
        (3, "completely unrelated content about spark execution engines"),
    ]
    corpus = spark.createDataFrame(rows, schema="doc_id long, text string")
    bench = corpus.filter(F.col("doc_id") == 1)
    out = {
        (r["doc_id"], r["bench_id"]): (r["overlap"], r["containment"])
        for r in dedup.containment_pairs(corpus, bench, n=3, min_containment=0.5).collect()
    }
    # doc 1 contains itself fully; doc 2 contains all of doc 1's trigrams
    assert out[(1, 1)][1] == 1.0
    assert out[(2, 1)][1] == 1.0
    assert (3, 1) not in out


def test_normalize_text(spark):
    from views_transformation_library_spark.operators import text as T

    rows = [(1, "Visit https://example.com/x?q=1 NOW!\x07\x07  Mail me@example.org \t ok")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = T.normalize_text(df, lowercase=True, mask_urls=True, mask_emails=True).collect()[0]
    assert out["text_norm"] == "visit <url> now! mail <email> ok"


def test_pack_windows_offsets_and_spans(spark):
    from views_transformation_library_spark.operators import text as T

    rows = [
        (1, "a b c"),           # 3 tokens  [0, 3)
        (2, ""),                # 0 tokens  [3, 3)
        (3, "d e f g h"),       # 5 tokens  [3, 8)
        (10, "i j"),            # 2 tokens  [8, 10) — crosses shard boundary
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in T.pack_windows(df, window=4, shard_size=5).collect()
    }
    assert (out[1]["start_offset"], out[1]["end_offset"]) == (0, 3)
    assert (out[2]["start_offset"], out[2]["end_offset"]) == (3, 3)
    assert (out[3]["start_offset"], out[3]["end_offset"]) == (3, 8)
    assert (out[10]["start_offset"], out[10]["end_offset"]) == (8, 10)
    # window spans with W=4: doc 3 spans windows 0..1, doc 10 fits window 2
    assert (out[1]["first_window"], out[1]["last_window"]) == (0, 0)
    assert (out[2]["first_window"], out[2]["last_window"]) == (0, 0)
    assert (out[3]["first_window"], out[3]["last_window"]) == (0, 1)
    assert (out[10]["first_window"], out[10]["last_window"]) == (2, 2)
    # two-phase prefix sum == global prefix sum regardless of shard size
    alt = {
        r["doc_id"]: r.asDict()
        for r in T.pack_windows(df, window=4, shard_size=1_000_000).collect()
    }
    assert all(alt[k] == out[k] for k in out)

def test_repetition_stats_planted(spark):
    rows = [
        # 4 non-empty lines, "aa bb" repeated twice -> 2/4 lines are dup
        # occurrences beyond the first... dup_line_frac = 1 - 3/4 = 0.25;
        # chars in duplicated lines = 2 * 5 = 10 of 5+5+2+8 = 20 total
        (1, "aa bb\naa bb\ncc\ndd ee ff\n\n  "),
        # single line, no repeats at line level; 'x' is 3 of 4 words
        (2, "x x x y"),
        (3, ""),  # empty doc: all zeros
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert out[1]["n_lines"] == 4
    assert out[1]["dup_line_frac"] == 0.25
    assert out[1]["dup_line_char_frac"] == 10 / 20
    assert out[2]["n_lines"] == 1
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["top_word_frac"] == 0.75
    assert out[2]["dup_word_frac"] == 0.5  # 4 words, 2 distinct
    for c in ("n_lines", "dup_line_frac", "dup_line_char_frac",
              "top_word_frac", "dup_word_frac"):
        assert out[3][c] == 0, c


def test_repetition_stats_custom_line_sep(spark):
    df = spark.createDataFrame(
        [(1, "aa STOP bb STOP aa")], schema="doc_id long, text string"
    )
    out = text.repetition_stats(df, line_sep=" STOP ").collect()[0]
    assert out["n_lines"] == 3
    # 'aa' occurs twice -> 1 - 2/3
    assert out["dup_line_frac"] == round(1 - 2 / 3, 6)


def test_ivf_distributed_training(vectors):
    cents = similarity.train_ivf_centroids_distributed(
        vectors, n_centroids=4, n_iters=3
    )
    assert 1 <= len(cents) <= 4
    dim = len(vectors.first()["embedding"])
    assert all(len(c) == dim for c in cents)
    queries = vectors.filter(F.col("vec_id") == 100)
    out = similarity.ivf_topk(
        vectors, queries, k=3, n_centroids=4, nprobe=2, train_distributed=True
    ).collect()
    # the planted near-dup twin lands in the same k-means bucket
    assert any(r["neighbor_id"] == 101 for r in out)
    assert all(r["query_id"] == 100 for r in out)


def test_ivf_distributed_empty_and_init(spark, vectors):
    empty = spark.createDataFrame([], schema="vec_id long, embedding array<float>")
    assert similarity.train_ivf_centroids_distributed(empty) == []
    # pretrained init skips the hash-sample bootstrap but still iterates
    seed_cents = similarity.train_ivf_centroids(vectors, n_centroids=2)
    cents = similarity.train_ivf_centroids_distributed(
        vectors, n_centroids=2, n_iters=1, init_centroids=seed_cents
    )
    assert len(cents) == 2


def test_stratified_sample_deterministic_and_quota(spark):
    from views_transformation_library_spark.operators import sampling

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), F.pmod("id", F.lit(2)).alias("stratum")
    )
    out1 = sampling.stratified_sample(df, {0: 0.5, 1: 0.0}, "stratum")
    ids1 = sorted(r["doc_id"] for r in out1.collect())
    # stratum 1 fully dropped; stratum 0 roughly half kept
    assert all(i % 2 == 0 for i in ids1)
    assert 350 < len(ids1) < 650
    # deterministic across runs and partitionings
    ids2 = sorted(
        r["doc_id"]
        for r in sampling.stratified_sample(
            df.repartition(7), {0: 0.5, 1: 0.0}, "stratum"
        ).collect()
    )
    assert ids1 == ids2
    # seed changes membership
    ids3 = sorted(
        r["doc_id"]
        for r in sampling.stratified_sample(
            df, {0: 0.5, 1: 0.0}, "stratum", seed=7
        ).collect()
    )
    assert ids1 != ids3


def test_split_column_stable_under_growth(spark):
    from views_transformation_library_spark.operators import sampling

    full = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    small = full.filter(F.col("doc_id") < 300)
    lab_full = {
        r["doc_id"]: r["split"] for r in sampling.split_column(full, 0.1).collect()
    }
    lab_small = {
        r["doc_id"]: r["split"] for r in sampling.split_column(small, 0.1).collect()
    }
    # a document's split never changes when the corpus grows
    assert all(lab_full[i] == lab_small[i] for i in lab_small)
    n_hold = sum(1 for v in lab_full.values() if v == "holdout")
    assert 50 < n_hold < 160  # ~10% of 1000
    assert set(lab_full.values()) == {"train", "holdout"}


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    from views_transformation_library_spark import plans
    from views_transformation_library_spark.operators import sampling

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        # one giant-weight row; everything else weight 1
        F.when(F.col("id") == 77, 1e9).otherwise(1.0).alias("w"),
    )
    out = sampling.weighted_sample(df, n=20, weight_col="w")
    rows = out.collect()
    assert len(rows) == 20
    got = {r["doc_id"]: r["sample_rank"] for r in rows}
    assert got.get(77) == 1  # w=1e9 key ~0: always wins
    # deterministic under repartitioning
    again = sampling.weighted_sample(df.repartition(7), n=20, weight_col="w").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # distributed top-n, not a global sort
    assert "TakeOrderedAndProject" in plans.physical_plan(out)


def test_weighted_sample_prefilter_path_identical(spark):
    """The large-n quantile prefilter must return byte-identical results
    to the direct path (it only drops rows that cannot be in the top n)."""
    from views_transformation_library_spark.operators import sampling

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).cast("double").alias("w")
    )
    direct = sampling.weighted_sample(df, n=100, weight_col="w",
                                      prefilter_above=10**9).collect()
    prefiltered = sampling.weighted_sample(df, n=100, weight_col="w",
                                           prefilter_above=1).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, prefiltered))
    assert len(direct) == 100


def test_weighted_sample_edge_cases(spark):
    from views_transformation_library_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 2.0), (2, 0.0), (3, None), (4, -1.0)], "doc_id long, w double"
    )
    rows = sampling.weighted_sample(df, n=10, weight_col="w").collect()
    # non-positive / NULL weights are excluded; n > survivors returns all
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["sample_rank"] == 1


def test_corpus_mix(spark):
    rows = [
        (1, "a b c", "s1", "en"),
        (2, "d e", "s1", "en"),
        (3, "f g h i j", "s2", "de"),
    ]
    df = spark.createDataFrame(
        rows, schema="doc_id long, text string, source string, lang string"
    )
    out = {(r["source"], r["lang"]): r for r in text.corpus_mix(df).collect()}
    assert out[("s1", "en")]["n_docs"] == 2
    assert out[("s1", "en")]["n_tokens"] == 5
    assert out[("s2", "de")]["n_tokens"] == 5
    assert out[("s1", "en")]["token_share"] == 0.5
    assert out[("s1", "en")]["n_chars"] == len("a b c") + len("d e")


def test_parse_json_fields(spark):
    from views_transformation_library_spark.operators import relational

    rows = [
        (1, '{"k": 7, "name": "x"}'),
        (2, '{"name": "y"}'),   # k absent -> NULL
        (3, 'not json'),        # malformed -> NULL
        (4, None),
    ]
    df = spark.createDataFrame(rows, schema="event_id long, props string")
    out = {
        r["event_id"]: (r["k"], r["name"])
        for r in relational.parse_json_fields(
            df, "props", {"k": "long", "name": "string"}
        ).collect()
    }
    assert out[1] == (7, "x")
    assert out[2] == (None, "y")
    assert out[3] == (None, None)
    assert out[4] == (None, None)


def test_vocab_top_terms(spark):
    rows = [(1, "aa bb aa"), (2, "aa cc BB")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = [(r["term"], r["term_count"], r["rank"])
           for r in text.vocab_top_terms(df, n=2).orderBy("rank").collect()]
    # 'aa' 3x; 'bb' and 'cc' tie at 2... bb appears twice (case-folded), cc once
    assert out == [("aa", 3, 1), ("bb", 2, 2)]
    # full vocab when n exceeds it, ties broken by term
    all_terms = [r["term"] for r in text.vocab_top_terms(df, n=10).orderBy("rank").collect()]
    assert all_terms == ["aa", "bb", "cc"]


def test_parse_json_fields_wrong_typed_value_is_null(spark):
    # ANSI mode: plain cast() would throw CAST_INVALID_INPUT; the operator
    # must yield NULL for values that don't cast
    from views_transformation_library_spark.operators import relational

    df = spark.createDataFrame(
        [(1, '{"k": "abc"}'), (2, '{"k": 7}')], schema="event_id long, props string"
    )
    out = {
        r["event_id"]: r["k"]
        for r in relational.parse_json_fields(df, "props", {"k": "long"}).collect()
    }
    assert out == {1: None, 2: 7}


def test_interval_join_rejects_bad_bucket_width(spark):
    from views_transformation_library_spark.operators import relational

    pts = spark.createDataFrame([(1, 5)], schema="pid long, ts_s long")
    iv = spark.createDataFrame([(1, 0, 9)], schema="iv_id long, start_s long, end_s long")
    with pytest.raises(ValueError):
        relational.interval_join(pts, iv, "ts_s", "start_s", "end_s", bucket_width=0)


# ---------------------------------------------------------------------------
# r3: PII masking, quality filter, BM25 retrieval

def test_mask_pii_all_kinds(spark):
    rows = [
        (1, "mail a.b+c@ex.org visit https://ex.com/x?y=z@w ip 10.0.0.1 "
            "ssn 123-45-6789 tel +1 (555) 123-4567 end"),
        (2, "clean text, no identifiers at all"),
        (3, "not-an-ip 1.2.3.4.5 not-a-ssn 12-34-5678"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text_masked"] for r in text.mask_pii(df).collect()}
    assert out[1] == "mail <EMAIL> visit <URL> ip <IP> ssn <ID> tel <PHONE> end"
    assert out[2] == rows[1][1]
    # dotted quintuple: the leading quad still matches (documented leftmost
    # semantics), the SSN-shaped pattern needs exactly 3-2-4
    assert out[3] == "not-an-ip <IP>.5 not-a-ssn 12-34-5678"


def test_mask_pii_kind_subset_and_validation(spark):
    df = spark.createDataFrame([(1, "a@b.co at 10.0.0.1")], "doc_id long, text string")
    only_ip = text.mask_pii(df, kinds=["ip"]).collect()[0]["text_masked"]
    assert only_ip == "a@b.co at <IP>"
    with pytest.raises(ValueError, match="unknown PII kinds"):
        text.mask_pii(df, kinds=["ip", "dna"])


def test_gopher_filter_rules(spark):
    good = "the quick brown fox jumps over the lazy dog and it runs far " * 5
    rows = [
        (1, good),                                # passes everything
        (2, "short text only"),                   # too few tokens
        (3, "x " * 80),                           # mean word len < 3
        (4, ("### " * 20) + good),                # symbol soup
        (5, ("123 456 789 " * 30) + "the it is"), # mostly non-alpha tokens
        (6, "lorem ipsum dolor sit amet " * 12),  # no stopword hits
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text.gopher_filter(df, min_tokens=40, max_tokens=1000).collect()
    }
    assert out[1]["keep"]
    assert not out[2]["ok_tokens"]
    assert not out[3]["ok_word_len"]
    assert not out[4]["ok_symbol"]
    assert not out[5]["ok_alpha"]
    assert not out[6]["ok_stopwords"]
    assert all(not out[i]["keep"] for i in (2, 3, 4, 5, 6))


def test_gopher_filter_repetition_rules(spark):
    dup = ("unique words here the and of it\n" + "same line again\n" * 20) * 3
    fresh = (
        "the gentle river winds through ancient valleys and it carries "
        "stories of distant mountains for every village along the way "
        "while farmers tend their fields in the morning light"
    )
    df = spark.createDataFrame([(1, dup), (2, fresh)], "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text.gopher_filter(
            df, min_tokens=10, max_dup_line_frac=0.3, max_top_word_frac=0.5
        ).collect()
    }
    assert not out[1]["ok_dup_lines"] and not out[1]["keep"]
    assert out[2]["ok_dup_lines"] and out[2]["keep"]


def test_bm25_against_plain_python(spark):
    import math

    rows = [
        (1, "spark shuffle join join join"),
        (2, "broadcast join avoids shuffle"),
        (3, "sort merge join shuffles both sides of the join"),
        (4, "no relevant terms whatsoever"),
        (5, "join"),
    ]
    from views_transformation_library_spark.operators import retrieval

    terms = ["join", "shuffle"]
    k1, b = 1.2, 0.75
    got = {
        r["doc_id"]: (r["bm25"], r["rank"])
        for r in retrieval.bm25_topk(
            spark.createDataFrame(rows, "doc_id long, text string"), terms, k=10
        ).collect()
    }
    # plain-python mirror (same fixed term order, same fp operation order)
    import re

    toks = {i: re.findall("[a-z0-9]+", t.lower()) for i, t in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    scores = {}
    for i, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if not any(v.count(x) for x in terms):
                continue
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            s = s + idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * len(v) / avgdl))
        if any(v.count(x) for x in terms):
            scores[i] = round(s, 6) + 0.0
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    assert set(got) == set(scores)
    for rank, (i, sc) in enumerate(expect, start=1):
        assert got[i][1] == rank
        assert got[i][0] == pytest.approx(sc, abs=1e-9)


def test_bm25_validates_terms(spark):
    from views_transformation_library_spark.operators import retrieval

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        retrieval.bm25_topk(df, [])
    with pytest.raises(ValueError, match="not a lowercase"):
        retrieval.bm25_topk(df, ["Bad Term"])


# ---------------------------------------------------------------------------
# r3: corpus-vs-corpus kNN graph


def _brute_knn(vectors, k):
    pdf = vectors.toPandas().set_index("vec_id")["embedding"]
    vs = {i: np.asarray(list(v), dtype=np.float64) for i, v in pdf.items()}
    out = {}
    for q, qv in vs.items():
        qn = np.linalg.norm(qv)
        if qn == 0:
            continue
        sims = {
            i: round(float(qv @ v / (qn * np.linalg.norm(v))), 6)
            for i, v in vs.items()
            if i != q and np.linalg.norm(v) > 0
        }
        out[q] = sorted(sims, key=lambda i: (-sims[i], i))[:k]
    return out


def test_knn_graph_full_probe_is_exact(vectors):
    """nprobe == n_centroids probes every bucket: members' primary bucket
    is always covered, so the graph equals brute-force kNN."""
    got = {}
    for r in similarity.knn_graph(vectors, k=3, n_centroids=4, nprobe=4).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    expect = _brute_knn(vectors, 3)
    assert set(got) == set(expect)
    for q in expect:
        assert [n for _, n in sorted(got[q])] == expect[q], f"query {q}"


def test_knn_graph_partial_probe_recall(vectors):
    """nprobe=2 of 4 buckets: neighbors must be a subset of each probed
    bucket's members, recall over the planted near-dup pair holds, and
    every returned cosine is the exact (rounded) cosine."""
    out = similarity.knn_graph(vectors, k=3, n_centroids=4, nprobe=2).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append(r)
    # planted near-dups always find each other (same bucket by construction)
    assert any(r["neighbor_id"] == 101 and r["rank"] == 1 for r in got[100])
    assert any(r["neighbor_id"] == 100 and r["rank"] == 1 for r in got[101])
    brute = _brute_knn(vectors, 21)
    for q, rows in got.items():
        for r in rows:
            assert r["neighbor_id"] in brute[q]  # a real (non-self) vector
        assert len(rows) <= 3


def test_knn_graph_no_cartesian_and_empty(spark, vectors):
    from views_transformation_library_spark import plans

    out = similarity.knn_graph(vectors, k=2, n_centroids=4, nprobe=2)
    plan = plans.physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.knn_graph(empty).count() == 0


def test_ann_join_full_probe_matches_brute_force(vectors):
    """Two-table ANN join, full probe: each query's ranked neighbors equal
    brute force over the whole corpus; exclude_self=False keeps the
    identical-id match at rank 1 (cosine 1.0)."""
    queries = vectors.filter(F.col("vec_id") % 2 == 0)
    got = {}
    for r in similarity.ann_join(
        vectors, queries, k=3, n_centroids=4, nprobe=4
    ).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    pdf = vectors.toPandas().set_index("vec_id")["embedding"]
    vs = {i: np.asarray(list(v), dtype=np.float64) for i, v in pdf.items()}
    for q in [i for i in vs if i % 2 == 0]:
        qv = vs[q]
        sims = {
            i: round(float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), 6)
            for i, v in vs.items()
        }
        expect = sorted(sims, key=lambda i: (-sims[i], i))[:3]
        assert [n for _, n, _ in sorted(got[q])] == expect, f"query {q}"
        assert sorted(got[q])[0][1] == q  # self at rank 1


def test_knn_graph_auto_bucket_sizing(vectors):
    """n_centroids=None derives ceil(N / bucket_target) buckets — the
    ∝N sizing that keeps per-bucket pair work constant at scale."""
    out = similarity.knn_graph(
        vectors, k=2, n_centroids=None, bucket_target=16, nprobe=2
    )
    rows = out.collect()
    assert rows and all(r["rank"] <= 2 for r in rows)
    # 22 vectors / target 16 -> 2 buckets; results still deterministic
    again = similarity.knn_graph(
        vectors, k=2, n_centroids=None, bucket_target=16, nprobe=2
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ann_join_empty_and_exclude_self(spark, vectors):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.ann_join(vectors, empty).count() == 0
    assert similarity.ann_join(empty, vectors).count() == 0
    out = similarity.ann_join(
        vectors, vectors, k=2, n_centroids=2, nprobe=2, exclude_self=True
    ).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)


def test_knn_graph_zero_norm_dropped(spark):
    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.9, 0.1]), (4, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.knn_graph(df, k=2, n_centroids=1, nprobe=1).collect()
    ids = {r["query_id"] for r in out} | {r["neighbor_id"] for r in out}
    assert 1 not in ids  # zero-norm neither queries nor matches


# ---------------------------------------------------------------------------
# r3: semantic dedup (SemDeDup-style)

def test_semantic_dedup_planted_duplicates(vectors):
    out = {
        r["vec_id"]: r
        for r in similarity.semantic_dedup(vectors, threshold=0.99, n_clusters=4).collect()
    }
    assert len(out) == 22
    # planted near-dup pair (100, 101): same cluster, greedy keeps the
    # smaller id
    assert out[100]["cluster"] == out[101]["cluster"]
    assert out[100]["keep"] and not out[101]["keep"]
    # random gaussians are far below 0.99 cosine: all kept
    assert all(out[i]["keep"] for i in range(20))


def test_semantic_dedup_auto_clusters(vectors, monkeypatch):
    """n_clusters=None derives the shared semdedup_n_clusters policy and
    matches the explicit parameterization exactly. The cluster target is
    monkeypatched small so the fixture derives MULTIPLE clusters — the
    22-row fixture at the real target derives 1 and would leave the
    multi-cluster wiring untested (ADVICE r9)."""
    monkeypatch.setattr(similarity, "SEMDEDUP_CLUSTER_TARGET", 8)
    n = vectors.count()
    derived = similarity.semdedup_n_clusters(n)
    assert derived > 1
    auto = sorted(map(tuple, similarity.semantic_dedup(
        vectors, threshold=0.3, n_clusters=None).collect()))
    explicit = sorted(map(tuple, similarity.semantic_dedup(
        vectors, threshold=0.3, n_clusters=derived).collect()))
    assert auto == explicit
    assert {c for _, c, _ in auto} <= set(range(derived))
    assert len({c for _, c, _ in auto}) > 1


def test_semantic_dedup_differential_brute_force(vectors):
    n_clusters, t = 4, 0.3
    cents = similarity.train_ivf_centroids(vectors, n_clusters)
    got = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in similarity.semantic_dedup(
            vectors, threshold=t, n_clusters=n_clusters, centroids=cents
        ).collect()
    }
    pdf = vectors.toPandas().set_index("vec_id")["embedding"].map(
        lambda v: np.asarray(list(v), dtype=np.float64)
    )
    C = np.array(cents)
    assign = {
        i: int(np.argmin(((v - C) ** 2).sum(axis=1))) for i, v in pdf.items()
    }
    dropped = set()
    ids = sorted(pdf.index)
    for bi, b in enumerate(ids):
        for a in ids[:bi]:
            if assign[a] != assign[b]:
                continue
            cos = float(pdf[a] @ pdf[b] / (np.linalg.norm(pdf[a]) * np.linalg.norm(pdf[b])))
            if round(cos, 6) >= t:
                dropped.add(b)
                break
    for i in ids:
        assert got[i][0] == assign[i], f"cluster mismatch for {i}"
        assert got[i][1] == (i not in dropped), f"keep mismatch for {i}"


def test_semantic_dedup_keep_farthest(spark):
    """keep='farthest' keeps the duplicate FARTHER from the cluster
    centroid (the paper's rule), flipping the min_id winner when the
    lower-id member is the nearer one."""
    # centroid of cluster A lands near the origin-side pair member: id 1
    # is close to the centroid, id 2 is the same direction but farther out
    rows = [
        (1, [1.0, 0.0]), (2, [4.0, 0.0]),  # cosine 1.0 duplicates
        (3, [0.0, 1.0]), (4, [0.0, 1.1]),  # second cluster duplicates
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.5, 0.0], [0.0, 1.0]]  # fixed centroids: assignment known
    far = {r["vec_id"]: r["keep"] for r in similarity.semantic_dedup(
        df, threshold=0.99, n_clusters=2, centroids=cents, keep="farthest"
    ).collect()}
    assert not far[1] and far[2]  # farther-from-centroid id 2 survives
    assert not far[3] and far[4]  # |0.1| < |1.1-1.0|? d(3)=0.0 < d(4)=0.1
    near = {r["vec_id"]: r["keep"] for r in similarity.semantic_dedup(
        df, threshold=0.99, n_clusters=2, centroids=cents, keep="min_id"
    ).collect()}
    assert near[1] and not near[2] and near[3] and not near[4]
    with pytest.raises(ValueError, match="keep must be"):
        similarity.semantic_dedup(df, keep="bogus")


def test_semantic_dedup_zero_norm_and_empty(spark):
    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["keep"] for r in
           similarity.semantic_dedup(df, threshold=0.9, n_clusters=2).collect()}
    assert out[1]  # zero-norm: undefined cosine, always kept
    assert out[2] and not out[3]  # exact dup dropped, keep-first-by-id
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.semantic_dedup(empty).count() == 0


# ---------------------------------------------------------------------------
# r3: product quantization

@pytest.fixture()
def pq_vectors(spark):
    # clustered data so PQ recall is meaningful: 4 gaussian blobs in 16-dim
    rng = np.random.RandomState(7)
    centers = rng.randn(4, 16) * 3
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, [float(x) for x in c + 0.3 * rng.randn(16)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_encode_shapes_and_determinism(pq_vectors):
    books = similarity.train_pq_codebooks(pq_vectors, m=4, k_codes=8)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 4
    out1 = similarity.pq_encode(pq_vectors, books).orderBy("vec_id").collect()
    out2 = similarity.pq_encode(pq_vectors, books).orderBy("vec_id").collect()
    assert [r["pq_codes"] for r in out1] == [r["pq_codes"] for r in out2]
    assert all(len(r["pq_codes"]) == 4 for r in out1)
    assert all(0 <= c < 8 for r in out1 for c in r["pq_codes"])


def _recall_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_pq_topk_recall_vs_exact(pq_vectors):
    queries = pq_vectors.filter(F.col("vec_id") % 40 == 0)
    exact_sets = _recall_sets(similarity.cosine_topk(pq_vectors, queries, k=10).collect())
    approx_sets = _recall_sets(
        similarity.pq_topk(pq_vectors, queries, k=10, m=4, k_codes=16).collect()
    )
    assert set(approx_sets) == set(exact_sets)
    recalls = [
        len(exact_sets[q] & approx_sets[q]) / len(exact_sets[q]) for q in exact_sets
    ]
    # pure ADC shuffles ranks among near-identical in-blob neighbours —
    # modest recall is the documented trade without reranking
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_pq_topk_rerank_recovers_exact_recall(pq_vectors):
    queries = pq_vectors.filter(F.col("vec_id") % 40 == 0)
    exact_sets = _recall_sets(similarity.cosine_topk(pq_vectors, queries, k=10).collect())
    rer = similarity.pq_topk(
        pq_vectors, queries, k=10, m=4, k_codes=16, rerank=4
    ).collect()
    rer_sets = _recall_sets(rer)
    recalls = [
        len(exact_sets[q] & rer_sets[q]) / len(exact_sets[q]) for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    # reranked output carries the EXACT cosine for every kept pair
    pdf = pq_vectors.toPandas().set_index("vec_id")["embedding"].map(
        lambda v: np.asarray(list(v), dtype=np.float64)
    )
    for r in rer:
        a, b = pdf[r["query_id"]], pdf[r["neighbor_id"]]
        want = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
        assert r["cosine"] == pytest.approx(want, abs=2e-6)


def test_pq_zero_norm_and_validation(spark, pq_vectors):
    rows = [(1, [0.0] * 16), (2, [1.0] + [0.0] * 15), (3, [0.9] + [0.1] * 15)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = similarity.train_pq_codebooks(df, m=4, k_codes=2)
    enc = {r["vec_id"]: r["pq_codes"] for r in similarity.pq_encode(df, books).collect()}
    assert enc[1] is None  # zero-norm: no direction to encode
    out = similarity.pq_topk(df, df.filter(F.col("vec_id") == 2), k=5, codebooks=books)
    assert 1 not in {r["neighbor_id"] for r in out.collect()}
    with pytest.raises(ValueError, match="not divisible"):
        similarity.train_pq_codebooks(pq_vectors, m=5)


def test_auto_ann_params_scaling(spark, vectors):
    """auto_ann_params: log-scaled, monotone, clamped; the None/'auto'
    plumbing reaches every family and returns ranked frames."""
    p = similarity.auto_ann_params
    # plane count: bounded candidates -> grows with log2(n)
    assert p(500)["n_planes"] == 4
    assert p(2_000)["n_planes"] == 4
    assert p(20_000)["n_planes"] == 5
    # r11: the candidate budget grows ∝ √n past n=20k (flat 4096 decayed
    # the scored fraction ∝ 1/n — RECALL_SF5 floor breach at n=1e5), so
    # the plane count climbs half a step per doubling beyond that
    assert p(100_000)["n_planes"] == 7
    assert p(1_000_000)["n_planes"] == 9
    assert p(10**12)["n_planes"] == 20  # clamp
    # ivf: cube-root centroids (inline-literal compile cost), half probed
    assert p(2_000)["n_centroids"] == 13 and p(2_000)["nprobe"] == 6
    assert p(10)["n_centroids"] == 8  # clamp floor
    assert p(10**7)["n_centroids"] == 64  # literal-expression ceiling
    # rerank: 8 per 1000 vectors, ceiling 256 (r8: the 64 ceiling bound
    # at sf1 — ADC rank dilution needs k*r to keep growing with n while
    # k*r stays << N, so the exact-rescore join remains a sliver)
    assert p(500)["rerank"] == 8
    assert p(2_000)["rerank"] == 16
    assert p(20_000)["rerank"] == 160
    assert p(100_000)["rerank"] == 256
    qs = vectors.filter(F.col("vec_id") < 3)
    assert similarity.lsh_topk(vectors, qs, k=3, n_planes=None).count() > 0
    assert similarity.ivf_topk(
        vectors, qs, k=3, n_centroids=None, nprobe=None
    ).count() > 0
    assert similarity.pq_topk(vectors, qs, k=3, m=2, rerank="auto").count() > 0


def test_pq_topk_distributed_adc_paths_agree(spark, pq_vectors, monkeypatch):
    """r6 gate (VERDICT r5 #3): above PQ_QUERY_DRIVER_CAP the ADC table
    is built in-plan instead of from a driver collect(). Forcing the cap
    to 0 must (a) produce the identical ranked output, and (b) never pull
    more than cap+1 query rows to the driver — proven by stubbing collect
    on the limited frame to count rows."""
    queries = pq_vectors.filter(F.col("vec_id") % 40 == 0)
    books = similarity.train_pq_codebooks(pq_vectors, m=4, k_codes=16)

    def run():
        return sorted(
            (r["query_id"], r["neighbor_id"], r["approx_cosine"], r["rank"])
            for r in similarity.pq_topk(
                pq_vectors, queries, k=10, m=4, k_codes=16, codebooks=books
            ).collect()
        )

    fast = run()
    monkeypatch.setattr(similarity, "PQ_QUERY_DRIVER_CAP", 0)
    slow = run()
    assert slow == fast
    # rerank path composes with the distributed build too
    rer = similarity.pq_topk(
        pq_vectors, queries, k=10, m=4, k_codes=16, codebooks=books, rerank=4
    )
    assert rer.count() > 0

    # (b): the limited collect is bounded — count rows crossing to the
    # driver. Patch the CONCRETE class (pyspark 4's sql.DataFrame is an
    # abstract base whose classic subclass overrides collect).
    _DF = type(pq_vectors)

    pulled = []
    orig_collect = _DF.collect

    def counting_collect(self):
        rows = orig_collect(self)
        pulled.append(len(rows))
        return rows

    monkeypatch.setattr(similarity, "PQ_QUERY_DRIVER_CAP", 2)
    monkeypatch.setattr(_DF, "collect", counting_collect)
    try:
        out = similarity.pq_topk(
            pq_vectors, queries, k=5, m=4, k_codes=16, codebooks=books
        )
        orig_collect(out)
    finally:
        monkeypatch.setattr(_DF, "collect", orig_collect)
    # every driver pull during plan construction stayed within cap+1
    assert pulled and max(pulled) <= 3


def test_knn_graph_hot_bucket_skew_prunes_exactly(spark, monkeypatch):
    """Planted-skew stress (VERDICT r3 #4): half the corpus lands in ONE
    IVF bucket (explicit centroids, tight hot cluster), PRUNE_AT is shrunk
    to 64 so the scorer's hot-bucket buffer prune fires constantly — and
    the full-probe result must STILL equal brute-force kNN exactly (the
    margin-safe prune may never change the ranked output). This is the
    'hot bucket degrades to work, never OOM' claim made observable: task
    memory is bounded by PRUNE_AT + one chunk frame, results are exact."""
    rng = np.random.RandomState(5)
    n, dim = 400, 8
    hot_dir = rng.randn(dim)
    rows = []
    for i in range(n):
        if i < n // 2:  # hot cluster: tiny jitter around one direction
            v = hot_dir + rng.randn(dim) * 0.01
        else:
            v = rng.randn(dim)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # explicit centroids: 0 = the hot direction (captures i < n/2 by
    # construction), the rest far-flung — a 50% hot bucket guaranteed
    cents = [list(map(float, hot_dir))] + [
        list(map(float, rng.randn(dim) * 5)) for _ in range(5)
    ]
    monkeypatch.setattr(similarity, "PRUNE_AT", 64)
    out = similarity.knn_graph(
        df, k=3, centroids=cents, nprobe=len(cents)
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    expect = _brute_knn(df, 3)
    assert set(got) == set(expect)
    for q in expect:
        assert [nb for _, nb in sorted(got[q])] == expect[q], f"query {q}"


def test_derived_n_centroids_resplits_with_corpus(spark):
    """The ∝N bucket sizing rule: buckets grow with the corpus so mean
    bucket size — and per-bucket pair work — stays constant at scale."""
    rows = [(i, [float(i), 1.0]) for i in range(512)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def nc(d):
        return similarity.auto_graph_params(d.count(), 64)["n_centroids"]

    assert nc(df.limit(64)) == 1
    assert nc(df.limit(128)) == 2
    assert nc(df) == 8
    # growing the corpus 4x at fixed bucket_target -> 4x the buckets
    assert nc(df) == 4 * nc(df.limit(128))


def test_c4_filter_line_and_doc_rules(spark):
    """Planted C4 rule cases: line retention (terminal punct, min words,
    javascript ban) and document rejection (few sentences, curly braces,
    lorem ipsum). Pure scan expressions — plan has no explode/shuffle."""
    from views_transformation_library_spark import plans
    from views_transformation_library_spark.operators import text as T

    rows = [
        (1, "Good first line here.\nshort.\nNo terminal punct\n"
            "contains JavaScript code today.\nAnother proper sentence stays!"),
        (2, "Only one good sentence here."),          # < 3 sentences -> drop
        (3, "Has braces { inside }. A sentence more. And a third one."),
        (4, "Lorem Ipsum filler text here. Real sentence one. Real two!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.c4_filter(df).collect()}
    # doc 1: lines 'short.' (<3 words), 'No terminal punct' (no punct),
    # 'contains JavaScript...' (banned word) all drop; 2 survive
    assert out[1]["n_lines_total"] == 5 and out[1]["n_lines_kept"] == 2
    assert out[1]["text_clean"] == (
        "Good first line here.\nAnother proper sentence stays!")
    assert out[1]["keep"] is False  # only 2 sentences survive (< 3)
    assert out[2]["keep"] is False
    assert out[3]["keep"] is False  # curly brace
    assert out[4]["keep"] is False  # lorem ipsum (case-insensitive)
    plan = plans.physical_plan(T.c4_filter(df))
    assert "Generate" not in plan and "Exchange" not in plan


def test_c4_filter_keeps_clean_doc(spark):
    from views_transformation_library_spark.operators import text as T

    rows = [(9, "One full sentence right here.\nSecond proper sentence now!\n"
                "And a third sentence to finish?")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = T.c4_filter(df).collect()[0]
    assert r["keep"] is True and r["n_lines_kept"] == 3 and r["n_sentences"] == 3


def test_ngram_repetition_stats_planted(spark):
    """Planted repetition: 'spam spam spam spam' — every 2-gram is 'spam
    spam' (top_2gram_char_frac = 1.0, dup too); a no-repeat doc scores
    0.0 dup fractions; a doc shorter than n scores 0.0 for that n."""
    from views_transformation_library_spark.operators import text as T

    rows = [
        (1, "spam spam spam spam"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.ngram_repetition_stats(
        df, top_ns=(2,), dup_ns=(5,)
    ).collect()}
    assert out[1]["top_2gram_char_frac"] == 1.0
    # doc 2: all 2-grams distinct -> top = 1/5 of total 2-gram chars
    assert 0.0 < out[2]["top_2gram_char_frac"] < 0.3
    assert out[2]["dup_5gram_char_frac"] == 0.0
    # doc 3 has no 5-grams at all
    assert out[3]["dup_5gram_char_frac"] == 0.0


def test_embedding_pca_matches_numpy(spark):
    """Projection differential: Spark's zip_with folds on the hash-sample
    basis equal a local numpy (X - mean) @ comps.T, and explained variance
    is non-increasing across components."""
    rng = np.random.RandomState(21)
    base = rng.randn(60, 6) * np.array([5.0, 3.0, 1.0, 0.5, 0.2, 0.1])
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: (r["pc0"], r["pc1"], r["pc2"])
           for r in similarity.embedding_pca(df, k=3).collect()}
    # replicate: sample_mod derives to 1 -> fit on all rows in id order,
    # through the float32 storage round-trip
    X32 = np.array([[np.float32(x) for x in base[i]] for i in range(60)],
                   dtype=np.float64)
    mean, comps = similarity.pca_fit(X32, 3)
    proj = (X32 - np.array(mean)) @ np.array(comps).T
    for i in range(60):
        for j in range(3):
            assert out[i][j] == pytest.approx(round(proj[i, j], 6), abs=2e-6), (i, j)
    variances = np.var(proj, axis=0)
    assert variances[0] >= variances[1] >= variances[2]


def test_train_pca_distributed_close_to_sample_path(spark):
    """The 100 TB Gram-partial fit agrees with the driver-sample fit when
    both see every row (last-ulp float reduction order aside)."""
    rng = np.random.RandomState(22)
    base = rng.randn(80, 5)
    rows = [(i, [float(x) for x in base[i]]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(7)
    m1, c1 = similarity.train_pca(df, k=2, sample_mod=1)
    m2, c2 = similarity.train_pca_distributed(df, k=2)
    assert np.allclose(m1, m2, atol=1e-9)
    assert np.allclose(c1, c2, atol=1e-7)


# ---------------------------------------------------------------------------
# chunking + fusion


def test_chunk_text_windows_and_tails(spark):
    from views_transformation_library_spark.operators import retrieval

    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),  # 10 words
        (2, "a b"),                                  # shorter than size
        (3, ""),                                     # no chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_words"])
        for r in retrieval.chunk_text(df, size=8, overlap=4)
        .orderBy("doc_id", "chunk_idx").collect()
    ]
    # doc 1: starts 0 and 4 (start 8 is subsumed: 8 + 4 >= 10)
    assert out == [
        (1, 0, "w0 w1 w2 w3 w4 w5 w6 w7", 8),
        (1, 1, "w4 w5 w6 w7 w8 w9", 6),
        (2, 0, "a b", 2),
    ]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="overlap"):
        retrieval.chunk_text(df, size=8, overlap=8)


def test_rrf_fuse_combines_and_ranks(spark):
    from views_transformation_library_spark.operators import retrieval

    ra = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, neighbor_id long, rank int"
    )
    rb = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id long, neighbor_id long, rank int"
    )
    out = {r["doc_id"]: (r["rrf"], r["rrf_rank"])
           for r in retrieval.rrf_fuse([ra, rb], k=60).collect()}
    # doc 11 in both lists wins; 10 and 12 tie-break... 1/61 > 1/62
    assert out[11][0] == round(1 / 62 + 1 / 61, 6) and out[11][1] == 1
    assert out[10] == (round(1 / 61, 6), 2)
    assert out[12] == (round(1 / 62, 6), 3)


def test_tfidf_weights(spark):
    from views_transformation_library_spark.operators import retrieval

    rows = [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_id"], r["term"]): (r["tf"], r["weight"])
           for r in retrieval.tfidf(df).collect()}
    idf = lambda dfr: round(math.log(4.0 / (dfr + 1.0)) + 1.0, 6)
    assert out[(1, "apple")] == (2, round(2 * idf(1), 6))
    assert out[(1, "banana")][0] == 1 and out[(2, "banana")][0] == 1
    # banana appears in 2 docs -> lower idf than apple
    assert out[(1, "banana")][1] < out[(1, "apple")][1] / 2 + 1e-9
    # min_df drops singletons
    kept = {r["term"] for r in retrieval.tfidf(df, min_df=2).collect()}
    assert kept == {"banana"}


# ---------------------------------------------------------------------------
# pagerank


def test_pagerank_star_graph_closed_form(spark):
    # star: 1..4 all point at 0; closed form for the center:
    # r0 = (1-d)/n + d*(4*rleaf_contrib + dangling/n) at the fixpoint
    edges = spark.createDataFrame([(i, 0) for i in range(1, 5)], "src long, dst long")
    out = {r["node"]: r["pagerank"] for r in dedup.pagerank(edges, max_iters=100).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-9  # mass conserved (dangling fix)
    leaves = [out[i] for i in range(1, 5)]
    assert max(leaves) - min(leaves) < 1e-12  # symmetry
    assert out[0] > 4 * leaves[0] / 2  # center dominates


def test_pagerank_paths_agree(spark):
    rng = np.random.RandomState(7)
    edges = spark.createDataFrame(
        [(int(rng.randint(0, 20)), int(rng.randint(0, 20))) for _ in range(60)],
        "src long, dst long",
    )
    fast = {r["node"]: r["pagerank"]
            for r in dedup.pagerank(edges, max_iters=40).collect()}
    dist = {r["node"]: r["pagerank"]
            for r in dedup.pagerank(edges, max_iters=40, driver_cap=0).collect()}
    assert set(fast) == set(dist)
    # quantized integer fixpoint: both paths are BIT-identical, not merely
    # close — the property the strict VALUES-golden oracle rests on
    for n in fast:
        assert fast[n] == dist[n]


def test_pagerank_deterministic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    )
    a = sorted((r["node"], r["pagerank"]) for r in dedup.pagerank(edges).collect())
    b = sorted((r["node"], r["pagerank"]) for r in dedup.pagerank(edges).collect())
    assert a == b  # driver path is bit-reproducible


def test_pagerank_gate_reads_no_count(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    )
    expected, got = _rows_without_count(monkeypatch, lambda: dedup.pagerank(edges))
    assert got == expected


def test_cap_per_group_deterministic_and_bounded(spark):
    from views_transformation_library_spark.operators import sampling

    rows = [(i, f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.cap_per_group(df, "source", 10).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert all(len(v) == 10 for v in by_src.values())
    # deterministic under repartition
    out2 = {r["doc_id"] for r in
            sampling.cap_per_group(df.repartition(7), "source", 10).collect()}
    assert {r["doc_id"] for r in out} == out2
    # growth-stable: adding docs never evicts more than it must — kept set
    # for a group is the n smallest hashes, so a kept doc stays kept unless
    # a new doc hashes below it
    small = sampling.cap_per_group(df.filter("doc_id < 50"), "source", 10)
    kept_small = {r["doc_id"] for r in small.collect()}
    assert len(kept_small) == 30


def test_mixture_plan_and_sample(spark):
    from views_transformation_library_spark.operators import sampling

    # counts 100/50; targets 50/50 -> binding stratum b keeps rate 1,
    # a downsamples to 50 expected
    rates = sampling.mixture_plan({"a": 100, "b": 50}, {"a": 0.5, "b": 0.5})
    assert rates == {"a": 0.5, "b": 1.0}
    with pytest.raises(ValueError, match="no rows"):
        sampling.mixture_plan({"a": 10}, {"a": 0.5, "missing": 0.5})
    # end-to-end: shares approach targets in expectation
    rows = [(i, "a" if i < 400 else "b") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.mixture_sample(df, {"a": 0.5, "b": 0.5}).collect()
    n_a = sum(1 for r in out if r["source"] == "a")
    n_b = sum(1 for r in out if r["source"] == "b")
    assert n_b == 100  # binding stratum keeps everything
    assert abs(n_a - 100) < 30  # hash-threshold expectation
    # deterministic
    again = sampling.mixture_sample(df, {"a": 0.5, "b": 0.5}).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}


def test_passage_dedup_hot_boilerplate_skew(spark):
    # 2000 docs all sharing ONE boilerplate passage (plus a unique tail):
    # the hot passage group hits a single min-struct window partition —
    # must complete and keep exactly the (min doc, pos 0) occurrence
    boiler = "subscribe to our newsletter for more great content today"
    rows = [(i, f"{boiler} unique{i} tail{i} words{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    out = dedup.passage_dedup(df, n_words=8)
    kept_boiler = out.filter(F.col("text_deduped").contains("subscribe")).collect()
    assert len(kept_boiler) == 1 and kept_boiler[0]["doc_id"] == 0
    # every doc keeps its unique tail passage
    assert out.filter(F.col("n_kept") >= 1).count() == 2000


def test_curation_pipeline_composition(spark):
    """The session-2 spec chain end-to-end on the sf0.001 corpus: filter ->
    passage dedup -> cap -> count, monotone row counts at every stage."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e
    from views_transformation_library_spark import registry

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = registry.transform(docs, e.CURATION_PIPELINE_SPEC)
    rows = out.collect()
    assert set(out.columns) == {"doc_id", "source", "n_kept", "n_tokens"}
    assert 0 < len(rows) <= docs.count()
    per_src = {}
    for r in rows:
        per_src[r["source"]] = per_src.get(r["source"], 0) + 1
        assert r["n_kept"] >= 1 and r["n_tokens"] >= 1
    assert max(per_src.values()) <= 15  # cap honored


def test_lsh_topk_multiprobe_recovers_adjacent_bucket(vectors):
    """r5 multi-probe: a query probes its own signature bucket PLUS the
    n_planes Hamming-1 buckets. Candidate sets are supersets of
    single-probe's; with enough planes the probed share of the corpus is
    still a strict subset (approximate, not brute force)."""
    queries = vectors.filter(F.col("vec_id") == 100)
    single = {r["neighbor_id"] for r in
              similarity.lsh_topk(vectors, queries, k=50, n_planes=4,
                                  probe_bits=0).collect()}
    multi = {r["neighbor_id"] for r in
             similarity.lsh_topk(vectors, queries, k=50, n_planes=4,
                                 probe_bits=1).collect()}
    assert single <= multi           # superset: never loses a candidate
    assert 101 in multi              # planted near-dup always recovered
    # each (query, vector) pair appears at most once (vector has ONE
    # bucket; probe list is distinct) -> ranks are dense 1..n
    ranks = sorted(r["rank"] for r in
                   similarity.lsh_topk(vectors, queries, k=50, n_planes=4).collect())
    assert ranks == list(range(1, len(ranks) + 1))


def test_pagerank_distributed_early_exit_is_fixpoint_stable(spark):
    """r5 early exit: once converged (max|delta| < tol), extra iteration
    budget must not change the distributed result — and the distributed
    path must agree with the driver path to float-iteration tolerance."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1)],
        "src long, dst long",
    )
    # damping 0.5 -> geometric convergence reaches |delta| < 1e-9 in ~30
    # iterations; both budgets are PAST convergence, so both runs exit at
    # the same iteration via the tol check (at 0.85 it would take ~113
    # iterations — pointlessly slow for a unit test)
    a = {r["node"]: r["pagerank"]
         for r in dedup.pagerank(edges, damping=0.5, max_iters=60,
                                 driver_cap=0).collect()}
    b = {r["node"]: r["pagerank"]
         for r in dedup.pagerank(edges, damping=0.5, max_iters=120,
                                 driver_cap=0).collect()}
    assert a == b  # bit-identical: both stopped at the same fixpoint
    drv = {r["node"]: r["pagerank"]
           for r in dedup.pagerank(edges, damping=0.5, max_iters=60).collect()}
    assert set(a) == set(drv)
    assert max(abs(a[n] - drv[n]) for n in a) < 1e-9


def test_minhash_hot_bucket_guard(spark):
    """r5 max_bucket: a band-bucket larger than the cap is skipped for
    pair generation; everything under the cap is IDENTICAL to the
    uncapped plan. Planted: 6 identical boilerplate docs (every band
    collides -> bucket size 6) + one near-dup pair of distinct text."""
    boiler = "the same boilerplate sentence repeated on every page of this site"
    rows = [(i, boiler) for i in range(6)]
    rows += [(10, "a genuinely unique document about alpine marmots and snow"),
             (11, "a genuinely unique document about alpine marmots and ice")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=2, n_hashes=8, bands=4, threshold=0.5)
    full = {(r["a"], r["b"]) for r in
            dedup.minhash_lsh_pairs(df, max_bucket=None, **kw).collect()}
    assert (10, 11) in full and (0, 1) in full
    capped = {(r["a"], r["b"]) for r in
              dedup.minhash_lsh_pairs(df, max_bucket=5, **kw).collect()}
    # boilerplate bucket (size 6 > cap 5 in EVERY band) skipped entirely;
    # the under-cap near-dup pair is untouched
    assert capped == {p for p in full if p[0] >= 10}
    # cap above the bucket size changes nothing
    same = {(r["a"], r["b"]) for r in
            dedup.minhash_lsh_pairs(df, max_bucket=6, **kw).collect()}
    assert same == full


def test_minhash_guard_counters(spark):
    """r6 #3: a capped run is distinguishable from an exact one by a
    counted signal. Same planted corpus as the guard test: 6 identical
    docs x 4 bands -> 4 over-cap buckets of size 6 at cap 5, so EXACT
    expected counters: 24 skipped memberships, 4 buckets, 4*15=60 pairs."""
    boiler = "the same boilerplate sentence repeated on every page of this site"
    rows = [(i, boiler) for i in range(6)]
    rows += [(10, "a genuinely unique document about alpine marmots and snow"),
             (11, "a genuinely unique document about alpine marmots and ice")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=2, n_hashes=8, bands=4, threshold=0.5)

    # uncapped -> no guard object at all (exact runs carry no signal)
    exact = dedup.minhash_lsh_pairs(df, max_bucket=None, **kw)
    exact.collect()
    assert dedup.lsh_guard_stats(exact) is None

    # capped, before any action -> non-blocking peek returns None
    capped = dedup.minhash_lsh_pairs(df, max_bucket=5, **kw)
    assert dedup.lsh_guard_stats(capped) is None
    capped.collect()
    stats = dedup.lsh_guard_stats(capped)
    assert stats == {
        "skipped_rows": 24, "skipped_pairs": 60, "skipped_buckets": 4,
    }, stats

    # capped but never engaged -> all-zero counters (cap >= bucket size):
    # distinguishable from BOTH the exact run (None) and an engaged one
    idle = dedup.minhash_lsh_pairs(df, max_bucket=6, **kw)
    idle.collect()
    assert dedup.lsh_guard_stats(idle) == {
        "skipped_rows": 0, "skipped_pairs": 0, "skipped_buckets": 0,
    }

    # end-to-end pipelines surface the same observation on their results;
    # fuzzy_dedup_keep's internal size-gate action populates it with no
    # caller action needed
    kept = dedup.fuzzy_dedup_keep(df, max_bucket=5, **kw)
    assert dedup.lsh_guard_stats(kept) == stats
    kept.collect()
    assert dedup.lsh_guard_stats(kept) == stats

    sdf = df.withColumn(
        "split", F.when(F.col("doc_id") < 10, "train").otherwise("test")
    )
    leak = dedup.split_leakage(sdf, max_bucket=5, **kw)
    leak.collect()
    assert dedup.lsh_guard_stats(leak) == stats


def test_simhash_60bit_scale_path(spark):
    """The corpus-scale parameterization (bits=60, chunks=4 -> 15-bit
    chunks): signatures use the high bits, the chunk join still finds the
    planted near-dup, and hamming verification is exact."""
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),   # near dup
            (3, "completely different words about marmots and snowfields")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in
            dedup.simhash(df, bits=60).collect()}
    assert all(0 <= s < (1 << 60) for s in sigs.values())
    assert any(s >= (1 << 32) for s in sigs.values())  # high bits in use
    d12 = bin(sigs[1] ^ sigs[2]).count("1")
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             dedup.simhash_pairs(df, bits=60, chunks=4,
                                 max_hamming=max(3, d12)).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == d12
    with pytest.raises(ValueError, match="bits"):
        dedup.simhash(df, bits=64)


def test_pack_bins_ffd_invariants(spark):
    """pack_bins: capacity respected, over-long docs truncated into their
    own bin, deterministic across runs, and FFD beats naive one-doc-per-
    bin (packing actually packs)."""
    from views_transformation_library_spark.operators import text as T

    rows = [(1, "a " * 10), (2, "b " * 10), (3, "c " * 5),
            (4, "d " * 3), (5, "e " * 40), (6, "f " * 2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in T.pack_bins(df, capacity=16, shard_size=1000).collect()}
    # over-capacity doc truncated, alone in its bin
    assert out[5]["truncated"] == 1 and out[5]["n_packed"] == 16
    assert sum(1 for r in out.values() if r["bin"] == out[5]["bin"]) == 1
    # every bin within capacity
    fills = {}
    for r in out.values():
        fills[r["bin"]] = fills.get(r["bin"], 0) + r["n_packed"]
    assert all(f <= 16 for f in fills.values()), fills
    # FFD: 10+10+5+3+2 = 30 tokens in capacity-16 bins -> 2 bins + doc 5
    assert len(fills) == 3, fills
    # deterministic
    again = {r["doc_id"]: r.asDict()
             for r in T.pack_bins(df, capacity=16, shard_size=1000).collect()}
    assert again == out
    # shards pack independently: shard key = id div shard_size
    sharded = T.pack_bins(df, capacity=16, shard_size=3).collect()
    assert {r["shard"] for r in sharded} == {0, 3, 6}


def test_pack_bins_segment_tree_equals_naive_ffd(spark):
    """The O(D log D) leftmost-fit segment tree must produce EXACTLY the
    naive first-fit-decreasing assignment (including need=0 empty docs
    and over-capacity truncations) on randomized sizes."""
    from views_transformation_library_spark.operators import text as T

    rng = np.random.RandomState(11)
    sizes = rng.randint(0, 30, size=200)
    sizes[::17] = 0                      # empty docs
    sizes[::41] = 99                     # over-capacity docs
    rows = [(int(i), " ".join(["w"] * int(s))) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 25
    got = {r["doc_id"]: (r["bin"], r["n_packed"])
           for r in T.pack_bins(df, capacity=cap, shard_size=10**6).collect()}
    # naive reference FFD
    packed = {i: min(int(s), cap) for i, s in enumerate(sizes)}
    order = sorted(range(len(sizes)), key=lambda d: (-packed[d], d))
    fills, expect = [], {}
    for d in order:
        need = packed[d]
        placed = next((b for b, f in enumerate(fills) if f + need <= cap), -1)
        if placed < 0:
            placed = len(fills)
            fills.append(0)
        fills[placed] += need
        expect[d] = (placed, need)
    assert got == expect


def test_temperature_mix_flattens_shares(spark):
    """alpha=0 -> uniform target shares (the small stratum keeps rate 1 as
    the binding one); alpha=1 -> natural mix (every rate 1, nothing
    dropped); in between the small stratum is up-weighted relative to its
    natural share. Deterministic membership."""
    from views_transformation_library_spark.operators import sampling as S

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    natural = df.count()
    assert S.temperature_mix(df, alpha=1.0).count() == natural  # keep-all
    out0 = S.temperature_mix(df, alpha=0.0)
    by_src = {r["source"]: r["n"] for r in
              out0.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # uniform targets: small is binding (all 40 kept), big downsampled to ~40
    assert by_src["small"] == 40
    assert abs(by_src["big"] - 40) <= 12  # hash-threshold sampling noise
    t = S.temperature_targets({"big": 400, "small": 40}, alpha=0.5)
    assert 0.09 < t["small"] < 0.5 and abs(sum(t.values()) - 1.0) < 1e-12
    with pytest.raises(ValueError, match="alpha"):
        S.temperature_mix(df, alpha=1.5)


def test_split_leakage_flags_cross_split_neardups(spark):
    """Near-dup pairs straddling the split boundary are flagged with both
    labels; same-split near-dups and cross-split non-dups are not."""
    t = "the quick brown fox jumps over the lazy dog every day"
    rows = [
        (1, t, "train"), (2, t + " x", "val"),        # cross-split near-dup
        (3, t + " y", "train"),                        # near-dup of 1, SAME split
        (4, "entirely unrelated content about glaciers", "val"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    out = {(r["a"], r["b"]): (r["split_a"], r["split_b"]) for r in
           dedup.split_leakage(df, n=2, n_hashes=8, bands=4, threshold=0.5).collect()}
    assert (1, 2) in out and out[(1, 2)] == ("train", "val")
    assert (1, 3) not in out          # same split
    assert all(4 not in p for p in out)


def test_simhash_pairs_validates_pigeonhole(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(df, max_hamming=4, chunks=4)
    with pytest.raises(ValueError, match="divisible"):
        dedup.simhash_pairs(df, bits=60, chunks=8, max_hamming=3)


def test_bigram_logprob_orders_matter(spark):
    """Bigram LM distinguishes word ORDER: a doc made of the corpus's
    common bigrams scores higher (less negative avg) than the same words
    shuffled into never-seen transitions; unigram scores are blind to it."""
    from views_transformation_library_spark.operators import text as T

    base = "the cat sat on the mat " * 6
    shuffled = "cat the mat sat the on " * 6
    rows = [(i, base) for i in range(1, 6)] + [(10, base), (11, shuffled)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in T.bigram_logprob(df).collect()}
    assert out[10]["n_bigrams"] == out[11]["n_bigrams"]
    assert out[10]["avg_logprob"] > out[11]["avg_logprob"]
    # unigram cannot separate them (same bag of words)
    uni = {r["doc_id"]: r["avg_logprob"] for r in T.unigram_logprob(df).collect()}
    assert uni[10] == pytest.approx(uni[11], abs=1e-9)
    # single-token / empty docs: zero bigrams, NULL scores
    tiny = spark.createDataFrame([(1, "word"), (2, "a b")], "doc_id long, text string")
    t = {r["doc_id"]: r.asDict() for r in T.bigram_logprob(tiny).collect()}
    assert t[1]["n_bigrams"] == 0 and t[1]["sum_logprob"] is None
    assert t[2]["n_bigrams"] == 1


def test_arrow_assignment_matches_expression_path(spark, vectors, monkeypatch):
    """r9 pin: `assign_probes_arrow` (the large-index numpy assignment)
    must be BYTE-IDENTICAL to the `_bucket_structs` expression path —
    same left-fold d2, same (d2, centroid-id) tie order, same null/ragged
    mirroring. Forces each path via ARROW_ASSIGN_MIN_NC and compares full
    outputs of every operator that gates on it, on a corpus that includes
    a null and a ragged vector."""
    rows = [(r["vec_id"], list(r["embedding"])) for r in vectors.collect()]
    rows += [(200, None), (201, [1.0, 2.0])]  # null + wrong-dim
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    qdf = df.limit(8)

    def run_all():
        out = {}
        out["knn"] = sorted(
            map(tuple, similarity.knn_graph(df, k=3, n_centroids=16, nprobe=5).collect())
        )
        out["ann"] = sorted(
            map(tuple, similarity.ann_join(df, qdf, k=3, n_centroids=16, nprobe=5).collect())
        )
        out["ivf"] = sorted(
            map(tuple, similarity.ivf_topk(df, qdf, k=3, n_centroids=16, nprobe=5).collect())
        )
        out["sem"] = sorted(
            map(tuple, similarity.semantic_dedup(df, threshold=0.2, n_clusters=16).collect())
        )
        out["near"] = sorted(
            map(tuple, similarity.embedding_neardup_pairs(df, threshold=0.3, n_blocks=16).collect())
        )
        return out

    monkeypatch.setattr(similarity, "ARROW_ASSIGN_MIN_NC", 1)  # force Arrow
    arrow = run_all()
    monkeypatch.setattr(similarity, "ARROW_ASSIGN_MIN_NC", 1 << 30)  # force expr
    expr = run_all()
    for name in arrow:
        assert arrow[name] == expr[name], name

# ---------------------------------------------------------------------------
# two-level coarse quantizer (r10)


@pytest.fixture(scope="module")
def tl_corpus(spark):
    """400 gaussian vectors — big enough for a real two-level index
    (nc=80 -> ns=9 supers) — plus a null and a ragged row."""
    rng = np.random.RandomState(0)
    X = rng.randn(400, 16)
    rows = [(i, [float(x) for x in X[i]]) for i in range(400)]
    rows += [(500, None), (501, [1.0, 2.0])]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_two_level_index_pure_and_covering(tl_corpus):
    """two_level_index is a pure deterministic function of
    (centroids, nprobe, seed) and its nsp rule guarantees worst-case
    child coverage >= min(nc, SUPER_COVERAGE*nprobe)."""
    cents = similarity.train_ivf_centroids(tl_corpus, 80)
    a = similarity.two_level_index(cents, nprobe=12)
    b = similarity.two_level_index(cents, nprobe=12)
    assert a == b  # pure: bit-identical floats, same map, same nsp
    ns = len(a["supers"])
    assert ns == math.ceil(math.sqrt(len(cents)))
    assert len(a["child_super"]) == len(cents)
    counts = sorted(
        np.bincount(a["child_super"], minlength=ns).tolist()
    )
    target = min(len(cents), similarity.SUPER_COVERAGE * 12)
    assert sum(counts[: a["nsp"]]) >= target  # ANY nsp supers cover it


def test_two_level_assign_matches_brute_force(tl_corpus):
    """assign_probes_two_level == a per-row python-fold reference of the
    same semantics (super rank by (d2s, sid), child rank by (d2, cid)
    over the restricted set), bit-exactly — including the null/ragged
    contract (probes=[0..np), d2 null)."""
    cents = similarity.train_ivf_centroids(tl_corpus, 80)
    tl = similarity.two_level_index(cents, nprobe=12)
    out = similarity.assign_probes_two_level(
        tl_corpus, "embedding", cents, 12, tl, with_d2=True
    ).collect()
    assert len(out) == 402
    C, S = np.asarray(cents), np.asarray(tl["supers"])
    CS = np.asarray(tl["child_super"])

    def fold(x, c):
        acc = 0.0
        for i in range(len(x)):
            d = x[i] - c[i]
            acc = acc + d * d
        return acc

    for r in out:
        if r["embedding"] is None or len(r["embedding"]) != 16:
            assert list(r["__probes"]) == list(range(12))
            assert r["__d2"] is None
            continue
        x = np.asarray(r["embedding"])
        top_sup = [s for _, s in sorted((fold(x, S[s]), s) for s in range(len(S)))[: tl["nsp"]]]
        cand = [c for c in range(len(C)) if CS[c] in top_sup]
        ranked = sorted((fold(x, C[c]), c) for c in cand)
        assert list(r["__probes"]) == [c for _, c in ranked[:12]]
        assert r["__d2"] == ranked[0][0]  # bit-exact fold


def test_two_level_vacuous_restriction_equals_flat(tl_corpus, monkeypatch):
    """With nsp == ns the restriction is vacuous: two-level output must be
    BYTE-IDENTICAL to the flat Arrow path (same folds, same tie order) —
    the strongest cross-path equivalence available, since a partial nsp
    legitimately changes probe sets."""
    cents = similarity.train_ivf_centroids(tl_corpus, 80)
    tl = similarity.two_level_index(cents, nprobe=12)
    tl_full = dict(tl, nsp=len(tl["supers"]))
    two = similarity.assign_probes_two_level(
        tl_corpus, "embedding", cents, 12, tl_full, with_d2=True
    ).collect()
    flat = similarity.assign_probes_arrow(
        tl_corpus, "embedding", cents, 12, with_d2=True
    ).collect()
    assert sorted(map(tuple, two)) == sorted(map(tuple, flat))


def test_two_level_knn_graph_end_to_end(tl_corpus, monkeypatch):
    """knn_graph over the two-level gate: emitted cosines are EXACT (only
    coverage is approximate), ranks are dense per query, and recall@3 vs
    the exact graph stays high on a 400-vector corpus."""
    monkeypatch.setattr(similarity, "TWO_LEVEL_MIN_NC", 1)
    monkeypatch.setattr(similarity, "SUPER_COVERAGE", 2)
    # engagement must be REAL (restrictive), not vacuous: nc=80 buckets,
    # nprobe=19 auto, coverage 2 -> target 38 < 80
    assert similarity.two_level_engages(80, 19)
    approx = similarity.knn_graph(
        tl_corpus, k=3, n_centroids=None, nprobe=None, bucket_target=5
    ).collect()
    monkeypatch.setattr(similarity, "TWO_LEVEL_MIN_NC", 1 << 30)
    pdf = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in tl_corpus.collect()
           if r["embedding"] is not None and len(r["embedding"]) == 16}
    # exact cosine check on every emitted pair (same fold + HALF_UP round)
    import decimal
    for r in approx:
        a, b = pdf[r["query_id"]], pdf[r["neighbor_id"]]
        acc = na = nb = 0.0
        for i in range(16):
            acc = acc + a[i] * b[i]
            na = na + a[i] * a[i]
            nb = nb + b[i] * b[i]
        cos = acc / (math.sqrt(na) * math.sqrt(nb))
        exp = float(decimal.Decimal(repr(cos)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP)) + 0.0
        assert r["cosine"] == exp
    # dense ranks
    by_q = {}
    for r in approx:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    # recall@3 vs the exact graph (nprobe = nc probes everything)
    exact = similarity.knn_graph(
        tl_corpus, k=3, n_centroids=8, nprobe=8
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, recall


# ---------------------------------------------------------------------------
# empty / NULL inputs and corpus probes of the vector family

_VECTOR_OPS = {
    "embedding_neardup_pairs": lambda df: similarity.embedding_neardup_pairs(
        df, threshold=0.3, n_blocks=4
    ),
    "ivf_topk": lambda df: similarity.ivf_topk(df, df, k=3, n_centroids=None, nprobe=None),
    "knn_graph": lambda df: similarity.knn_graph(df, k=3, n_centroids=None, nprobe=None),
    "ann_join": lambda df: similarity.ann_join(df, df, k=3, n_centroids=None, nprobe=None),
    "semantic_dedup": lambda df: similarity.semantic_dedup(
        df, threshold=0.3, n_clusters=None
    ),
    "lsh_topk": lambda df: similarity.lsh_topk(df, df, k=3, n_planes=None),
    "pq_topk": lambda df: similarity.pq_topk(df, df, k=3, m=4, k_codes=4, rerank="auto"),
}
_DEDUP_OPS = {
    "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
    "fuzzy_dedup_keep": dedup.fuzzy_dedup_keep,
}


def _hostile_frames(spark, docs, op, case):
    """(full input, hostile input, twin): an empty or all-NULL input has no
    twin; a NULL-first corpus has its NULL-last twin."""
    if op in _DEDUP_OPS:
        empty = {
            "limit0": docs.limit(0),
            "filtered": docs.filter("doc_id < 0"),
            "created_empty": spark.createDataFrame([], docs.schema),
        }[case]
        return docs, empty, None
    schema = "vec_id long, embedding array<double>"
    rng = np.random.RandomState(5)
    valid = [(i, [float(x) for x in rng.randn(8)]) for i in range(59)]
    full = spark.createDataFrame(valid, schema)
    if case == "limit0":
        return full, full.limit(0), None
    if case == "all_null":
        return full, spark.createDataFrame([(i, None) for i in range(60)], schema), None
    if case == "all_zero":
        return full, spark.createDataFrame([(i, [0.0] * 8) for i in range(60)], schema), None
    null = [(59, None)]
    return (
        full,
        spark.createDataFrame(null + valid, schema),
        spark.createDataFrame(valid + null, schema),
    )


@pytest.mark.parametrize(
    "op,case",
    [(op, c) for op in sorted(_VECTOR_OPS) for c in ("limit0", "all_null", "null_first")]
    + [("pq_topk", "all_zero")]
    + [(op, c) for op in sorted(_DEDUP_OPS) for c in ("limit0", "filtered", "created_empty")],
)
def test_empty_and_null_inputs(spark, docs, op, case):
    """Empty and all-NULL inputs give the empty result with the output
    schema; a NULL row gives the same result wherever it sits (the first
    row is not a sample of the corpus). pq_topk scores unit vectors, so an
    all-zero-norm corpus is empty to it too."""
    run = {**_VECTOR_OPS, **_DEDUP_OPS}[op]
    full, frame, twin = _hostile_frames(spark, docs, op, case)
    if twin is None:
        out = run(frame)
        assert out.collect() == []
        assert out.dtypes == run(full).dtypes
    else:
        got = sorted(run(frame).collect())
        assert got and got == sorted(run(twin).collect())


def test_embedding_pca_schema_does_not_depend_on_data(spark):
    """embedding_pca always adds pc0..pc{k-1} as doubles: a component the
    sample cannot fit (an all-NULL corpus, or k above the dimension) is
    NULL."""
    full, all_null, _ = _hostile_frames(spark, None, "embedding_pca", "all_null")
    fitted = similarity.embedding_pca(full, k=2)
    empty = similarity.embedding_pca(all_null, k=2)
    assert empty.dtypes == fitted.dtypes == full.dtypes + [("pc0", "double"), ("pc1", "double")]
    assert {(r["pc0"], r["pc1"]) for r in empty.collect()} == {(None, None)}
    wide = similarity.embedding_pca(full, k=10).collect()  # 8-dim vectors
    assert all(r["pc7"] is not None and r["pc8"] is None and r["pc9"] is None for r in wide)


def test_semantic_dedup_pretrained_centroids_on_null_corpus(spark):
    """Pretrained centroids skip the trainer's empty-sample test; an
    all-NULL corpus must still give the trained path's empty result, not
    every row kept as cluster 0."""
    full, all_null, _ = _hostile_frames(spark, None, "semantic_dedup", "all_null")
    centroids = [[1.0] * 8, [-1.0] * 8]
    out = similarity.semantic_dedup(all_null, threshold=0.3, centroids=centroids)
    assert out.collect() == []
    assert out.dtypes == similarity.semantic_dedup(full, threshold=0.3, centroids=centroids).dtypes


@pytest.mark.parametrize("op", ["ivf_topk", "knn_graph", "semantic_dedup", "ann_join"])
def test_vector_family_counts_the_corpus_once(vectors, monkeypatch, op):
    """An auto-parameter build reads the corpus size from ONE count(): no
    emptiness first() beside it and no second count for the trainer's
    sample_mod. ann_join adds one first() on its queries."""
    calls = []
    for name in ("count", "first"):
        real = getattr(type(vectors), name)

        def spy(self, *a, _name=name, _real=real, **kw):
            calls.append(_name)
            return _real(self, *a, **kw)

        monkeypatch.setattr(type(vectors), name, spy)
    _VECTOR_OPS[op](vectors)
    assert sorted(calls) == (["count", "first"] if op == "ann_join" else ["count"])


def test_ngram_jaccard_guard_counters(spark):
    """r10: the max_doc_freq guard carries the same observe counters as
    the minhash max_bucket guard — engaged caps are distinguishable from
    exact runs by counted signal, and the counters are exact integers."""
    # 6 docs sharing one ultra-common shingle ("aa bb cc") + pairs that
    # survive: with max_doc_freq=5 the common shingle (df=6) is dropped
    rows = [(i, f"aa bb cc unique{i} tail{i}") for i in range(6)]
    rows += [(10, "xx yy zz ww"), (11, "xx yy zz ww")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5, max_doc_freq=5)
    pairs = {(r["a"], r["b"]) for r in out.collect()}
    assert (10, 11) in pairs
    stats = dedup.lsh_guard_stats(out, block=True)
    # exactly one over-cap shingle ("aa bb cc", df=6): 6 posting rows,
    # C(6,2)=15 candidate pairs lost at it
    assert stats == {
        "skipped_rows": 6, "skipped_pairs": 15, "skipped_buckets": 1,
    }
    # uncapped: no guard object at all
    exact = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5)
    assert dedup.lsh_guard_stats(exact) is None


def test_ngram_join_gates_forced_paths_agree(spark, monkeypatch):
    """r10 join gates: forcing the over-cap strategies — shuffle_hash
    size-joins (SIZES_BROADCAST_CAP=0) and the shuffle anti-join for the
    hot set (HOT_SHINGLE_BROADCAST_CAP=0) — must reproduce the gated
    defaults exactly (same pairs, same jaccards, same counters)."""
    rows = [(i, f"aa bb cc unique{i} tail{i}") for i in range(6)]
    rows += [(10, "xx yy zz ww"), (11, "xx yy zz ww"), (12, "xx yy zz ww qq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        out = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.3, max_doc_freq=5)
        return (
            sorted((r["a"], r["b"], round(r["jaccard"], 9)) for r in out.collect()),
            dedup.lsh_guard_stats(out),
        )

    base_pairs, base_stats = run()
    assert base_stats["skipped_buckets"] >= 1  # the guard is engaged
    monkeypatch.setattr(dedup, "SIZES_BROADCAST_CAP", 0)
    monkeypatch.setattr(dedup, "HOT_SHINGLE_BROADCAST_CAP", 0)
    forced_pairs, forced_stats = run()
    assert forced_pairs == base_pairs
    assert forced_stats == base_stats


# ---------------------------------------------------------------------------
# decontaminate / duplicate_spans / DSIR (r11)

def test_decontaminate_exact_ngram_overlap(spark):
    # eval doc carries the 5-token phrase "p1 p2 p3 p4 p5"
    ev = spark.createDataFrame(
        [(100, "zz p1 p2 p3 p4 p5 yy")], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [
            (1, "a b p1 p2 p3 p4 p5 c d"),   # verbatim 5-gram -> contaminated
            (2, "a b p1 p2 p3 p4 X c d"),    # only 4 shared tokens -> clean
            (3, "q r s t"),                  # < n tokens -> omitted
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.decontaminate(tr, ev, n=5).collect()}
    assert set(out) == {1, 2}
    assert out[1]["contaminated"] and out[1]["n_hit_grams"] == 1
    assert out[1]["n_grams"] == 5  # 9 tokens -> 5 distinct 5-grams
    assert not out[2]["contaminated"] and out[2]["n_hit_grams"] == 0


def test_decontaminate_min_hits(spark):
    ev = spark.createDataFrame(
        [(100, "p1 p2 p3 p4 p5 p6")], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [(1, "p1 p2 p3 p4 p5 p6")], "doc_id long, text string"
    )
    one = dedup.decontaminate(tr, ev, n=5, min_hits=3).collect()[0]
    assert one["n_hit_grams"] == 2 and not one["contaminated"]


def test_decontaminate_gate_reads_no_count(spark, monkeypatch):
    ev = spark.createDataFrame(
        [(100, "zz p1 p2 p3 p4 p5 yy")], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [(1, "a b p1 p2 p3 p4 p5 c d"), (2, "a b p1 p2 p3 p4 X c d")],
        "doc_id long, text string",
    )
    expected, got = _rows_without_count(
        monkeypatch, lambda: dedup.decontaminate(tr, ev, n=5)
    )
    assert got == expected


def test_duplicate_spans_positions_and_islands(spark):
    w = lambda lo, hi: " ".join(f"a{i}" for i in range(lo, hi + 1))
    rows = [
        (1, w(1, 20)),                                  # a1..a20
        (2, "x1 x2 " + w(5, 14) + " y1 y2"),            # shares a5..a14
        (3, "totally unrelated words only here"),
        # two disjoint shared runs with doc 1: a1..a5 and a10..a15
        (4, w(1, 5) + " zz " + w(10, 15)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.duplicate_spans(df, k=3, min_tokens=5, max_gram_freq=100)
    spans = {(r["a"], r["b"]): [] for r in out.collect()}
    for r in out.collect():
        spans[(r["a"], r["b"])].append(
            (r["a_start"], r["b_start"], r["span_tokens"])
        )
    # doc1-doc2: one span, doc1 pos 5..14 (10 tokens), doc2 pos 3
    assert spans[(1, 2)] == [(5, 3, 10)]
    # doc1-doc4: two islands (the gap token breaks the diagonal run)
    assert sorted(spans[(1, 4)]) == [(1, 1, 5), (10, 7, 6)]
    assert not any(3 in p for p in spans)


def test_duplicate_spans_gram_freq_guard(spark):
    # every shared gram occurs >= 2 times corpus-wide, so cap=1 drops all
    rows = [(1, "a b c d e f"), (2, "a b c d e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.duplicate_spans(df, k=3, min_tokens=3, max_gram_freq=1).count() == 0
    full = dedup.duplicate_spans(df, k=3, min_tokens=3, max_gram_freq=100).collect()
    assert [(r["a_start"], r["b_start"], r["span_tokens"])
            for r in full] == [(1, 1, 6)]


def _dsir_docs(spark):
    rows = [
        (1, True, "cats purr and cats nap and cats purr"),
        (2, True, "cats purr while cats nap"),
        (10, False, "cats purr and cats nap often"),       # target-like raw
        (11, False, "dogs bark and dogs dig and dogs bark"),
        (12, False, "x"),                                   # < n tokens: omitted
    ]
    return spark.createDataFrame(
        rows, "doc_id long, is_target boolean, text string"
    )


def test_dsir_weights_orders_target_like_raw_docs(spark):
    df = _dsir_docs(spark)
    out = {r["doc_id"]: r for r in
           sampling.dsir_weights(df, n=2, n_buckets=256).collect()}
    assert set(out) == {1, 2, 10, 11}  # doc 12 has no bigram
    assert out[10]["weight_q"] > out[11]["weight_q"]
    # n_grams counts OCCURRENCES (6 tokens -> 5 bigrams)
    assert out[10]["n_grams"] == 5
    # display double mirrors the quantized long
    assert out[10]["weight"] == pytest.approx(out[10]["weight_q"] / 1e9, abs=1e-6)


def test_dsir_weights_match_pure_python_replication(spark):
    """Differential: the Spark pipeline reproduces a from-scratch pure
    python computation (tokenize, bucket via md5, count, weight, dot)."""
    import hashlib
    from collections import Counter

    df = _dsir_docs(spark)
    v, n = 256, 2
    rows = [(1, True, "cats purr and cats nap and cats purr"),
            (2, True, "cats purr while cats nap"),
            (10, False, "cats purr and cats nap often"),
            (11, False, "dogs bark and dogs dig and dogs bark")]

    def buckets(txt):
        toks = txt.lower().split()
        return [
            int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:7], 16) % v
            for a, b in zip(toks, toks[1:])
        ]

    ct, cr = Counter(), Counter()
    for _, tgt, txt in rows:
        (ct if tgt else cr).update(buckets(txt))
    all_b = sorted(set(ct) | set(cr))
    wmap = sampling.dsir_bucket_weights(
        [(b, ct[b], cr[b]) for b in all_b], v, 1.0
    )
    expected = {
        did: sum(wmap[b] for b in buckets(txt)) for did, _, txt in rows
    }
    got = {r["doc_id"]: r["weight_q"] for r in
           sampling.dsir_weights(df, n=n, n_buckets=v).collect()}
    assert got == expected


def test_dsir_select_topk_raw_only(spark):
    df = _dsir_docs(spark)
    sel = sampling.dsir_select(df, 2, n=2, n_buckets=256).collect()
    assert [r["doc_id"] for r in sel] == [10, 11]  # raw docs only, best first
    assert [r["dsir_rank"] for r in sel] == [1, 2]


def test_xxhash64_long_matches_spark(spark):
    vals = [0, 1, -1, 42, 2**62, -(2**62), 123456789012345, -987654321]
    rows = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", F.xxhash64("v").alias("h")
    ).collect()
    for r in rows:
        assert similarity.xxhash64_long(r["v"]) == r["h"]


def test_distributed_trainer_replay_bit_identical(vectors):
    # the strict-oracle hook for ivf_topk_dist: the JVM-free replay must
    # reproduce the quantized distributed trainer EXACTLY (integer sums +
    # shared _quantized_mean — no float reduction surface)
    cents = similarity.train_ivf_centroids_distributed(
        vectors, n_centroids=4, n_iters=3
    )
    pdf = vectors.select("vec_id", "embedding").toPandas()
    replay = similarity.replay_distributed_training(
        pdf["vec_id"].tolist(),
        [list(v) for v in pdf["embedding"]],
        4,
        n_iters=3,
    )
    assert cents == replay


def test_distributed_trainer_run_to_run_deterministic(vectors):
    a = similarity.train_ivf_centroids_distributed(
        vectors.repartition(7), n_centroids=4, n_iters=2
    )
    b = similarity.train_ivf_centroids_distributed(
        vectors.repartition(3), n_centroids=4, n_iters=2
    )
    assert a == b  # integer sums commute under any partitioning


def test_quality_classifier_score_semantics(spark):
    """Hand-computed linear scores: mean of token weights (OOV weight 0)
    plus bias, rounded 6dp; keep thresholds the rounded score; empty
    docs score NULL."""
    from views_transformation_library_spark.operators import text

    df = spark.createDataFrame(
        [
            (1, "fast fast slow x"),     # (2*1.25 - 1.5 + 0)/4 = 0.25
            (2, "fast fast fast the"),   # (3*1.25 + 0.2)/4 = 0.9875
            (3, ""),                     # no tokens
            (4, "zzz yyy"),              # all OOV -> mean 0 -> bias only
        ],
        "doc_id long, text string",
    )
    w = {"fast": 1.25, "slow": -1.5, "the": 0.2}
    out = {
        r["doc_id"]: r
        for r in text.quality_classifier_score(
            df, w, bias=-0.35, threshold=0.05
        ).collect()
    }
    assert out[1]["n_tokens"] == 4 and out[1]["n_matched"] == 3
    assert out[1]["quality_score"] == -0.1 and out[1]["keep"] is False
    assert out[2]["quality_score"] == 0.6375 and out[2]["keep"] is True
    assert out[3]["n_tokens"] == 0 and out[3]["quality_score"] is None
    assert out[3]["keep"] is None
    assert out[4]["n_matched"] == 0 and out[4]["quality_score"] == -0.35


def test_quality_classifier_score_validation(spark):
    import pytest

    from views_transformation_library_spark.operators import text

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        text.quality_classifier_score(df, {})
    for bad in ("Fast", "has space", "punct!", ""):
        with pytest.raises(ValueError, match="lowercase"):
            text.quality_classifier_score(df, {bad: 1.0})


def test_quality_classifier_plan_is_broadcast_and_jvm_side(spark):
    """The weights join must broadcast (never shuffle the tf aggregate
    against a tiny lexicon) and the pipeline must stay JVM-side."""
    from views_transformation_library_spark import plans
    from views_transformation_library_spark.operators import text

    df = spark.createDataFrame(
        [(i, "fast slow data query") for i in range(50)],
        "doc_id long, text string",
    )
    out = text.quality_classifier_score(df, {"fast": 1.0, "slow": -1.0})
    p = plans.physical_plan(out)
    assert plans.count_broadcasts(out) >= 1
    assert "MapInPandas" not in p and "BatchEvalPython" not in p
