"""Dedup / similarity / multimodal operators: planted duplicates are found."""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    from datasmith_spark.queries import _corpus

    return _corpus(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def planted(spark, corpus):
    base_ids = [
        r.doc_id for r in corpus.filter(F.col("doc_id") < 100).select("doc_id").distinct().collect()
        if r.doc_id < 100
    ]
    return base_ids


def test_minhash_finds_planted_dups(spark, corpus, planted):
    from datasmith_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures, shingles

    sh = shingles(corpus)
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(minhash_signatures(sh)).collect()}
    exact = [(i, i + 100000) for i in planted]
    near = [(i, i + 200000) for i in planted]
    assert sum(p in pairs for p in exact) == len(exact)  # identical text: always caught
    # K=8 / 4 bands: planted near-dups (jaccard ~0.8+) collide on some band
    # with prob ~0.97 per pair => >=0.95 recall on 100 planted pairs
    assert sum(p in pairs for p in near) >= 0.95 * len(near)

    # jaccard verification: exact pairs score 1.0, near pairs high
    from datasmith_spark.operators.dedup import jaccard_verify

    cand = lsh_candidate_pairs(minhash_signatures(sh))
    ver = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_verify(sh, cand, 0.6).collect()}
    for p in exact:
        assert ver.get(p) == 1.0
    caught_near = [ver[p] for p in near if p in ver]
    assert caught_near and min(caught_near) >= 0.6


def test_jaccard_verify_counts_repeated_shingles_once(spark):
    """Set semantics on both sides of the ratio: a shingle repeated within
    a doc must not inflate that doc's size (|{a,b,c} & {a,b,d}| / |union|
    = 2/4, not 2/5 from a double-counted `a`)."""
    from datasmith_spark.operators.dedup import jaccard_verify

    sh = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (2, "d")],
        "id long, s string",
    )
    cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    assert [tuple(r) for r in jaccard_verify(sh, cand, 0.5).collect()] == [(1, 2, 0.5)]


def test_simhash_finds_planted_dups(spark, corpus, planted):
    from datasmith_spark.operators.dedup import simhash_candidate_pairs

    pairs = {(r.doc_a, r.doc_b) for r in simhash_candidate_pairs(corpus).collect()}
    exact = [(i, i + 100000) for i in planted]
    assert sum(p in pairs for p in exact) == len(exact)


def test_exact_dedup_counts(spark, corpus):
    from datasmith_spark.operators.dedup import exact_dedup_stats

    row = exact_dedup_stats(corpus).collect()[0]
    n_base = row.n_rows - 2 * row.n_dup_groups  # 100 exact dups + 100 near (distinct)
    assert row.n_dup_rows == row.n_dup_groups  # each planted fp appears exactly twice
    assert row.n_fps == row.n_rows - row.n_dup_rows
    assert n_base > 0


def test_embedding_dup_pairs(spark):
    """LSH-prefiltered dup pairs == exact brute-force verifier, and the
    production plan contains no nested-loop/cartesian join."""
    from datasmith_spark.operators.similarity import (
        embedding_dup_pairs,
        embedding_dup_pairs_bruteforce,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    dup = emb.filter(F.col("vec_id") < 10).select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(dup)
    out = embedding_dup_pairs(corpus, 0.999)
    pairs = {(r.vec_a, r.vec_b): r.cos for r in out.collect()}
    for i in range(10):
        assert pairs.get((i, i + 10000)) == 1.0
    assert len(pairs) == 10  # random vectors in 64-d never reach 0.999
    brute = {(r.vec_a, r.vec_b): r.cos for r in embedding_dup_pairs_bruteforce(corpus, 0.999).collect()}
    assert pairs == brute
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_cosine_topk_deterministic(spark):
    from datasmith_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = sorted(map(tuple, cosine_topk(emb, 5, 3).collect()))
    b = sorted(map(tuple, cosine_topk(emb, 5, 3).collect()))
    assert a == b and len(a) == 15
    # self-similarity excluded
    assert all(q != n for q, n, _ in a)


def test_image_features_and_stub(spark):
    from datasmith_spark.operators.multimodal import image_features, synth_images

    imgs = synth_images(spark, 100)
    feats = image_features(imgs).toPandas().sort_values("img_id").reset_index(drop=True)
    assert len(feats) == 100
    ok = feats[feats.decode_ok]
    stub = feats[~feats.decode_ok]
    # jpeg is a real codec lane now; only the deliberately-corrupt rows
    # (img_id index % 51 == 0, truncated streams) are flagged, never crashed
    jpeg = feats[feats.fmt == "jpeg"]
    assert len(jpeg) > 2 and jpeg.decode_ok.sum() == len(jpeg) - 2
    assert set(stub.fmt) == {"jpeg"} and len(stub) == 2
    assert ok.mean_r.between(100, 155).all()  # uniform-noise images
    assert ok.std_gray.notna().all()
    # decode parity with the local kernel on one row
    import numpy as np

    from datasmith_spark.operators.multimodal import decode_image

    row = imgs.filter(F.col("fmt") == "rgb8").limit(1).collect()[0]
    img = decode_image(row.bytes, row.width, row.height, row.fmt)
    assert img.shape == (row.height, row.width, 3)


def test_video_frame_sampling(spark):
    import pandas as pd

    from datasmith_spark.operators.multimodal import sample_video_frames

    n_frames, w, h = 25, 8, 6
    rng = np.random.default_rng(7)
    rows = [
        ("vid_a", rng.integers(0, 256, size=n_frames * w * h, dtype=np.uint8).tobytes(), w, h),
        ("vid_b", b"", w, h),  # undecodable
    ]
    vids = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vid_id", "bytes", "width", "height"]),
        "vid_id string, bytes binary, width int, height int",
    )
    out = sample_video_frames(vids, every_k=10).toPandas()
    assert sorted(out[out.vid_id == "vid_a"].frame_idx) == [0, 10, 20]
    assert (out.vid_id == "vid_b").sum() == 0


def test_resize_rgb8():
    from datasmith_spark.operators.multimodal import resize_rgb8

    img = np.arange(24 * 32 * 3, dtype=np.uint8).reshape(24, 32, 3)
    small = resize_rgb8(img, 8, 6)
    assert small.shape == (6, 8, 3)
    assert (small == resize_rgb8(img, 8, 6)).all()


def test_winnow_finds_planted_dups(spark, corpus):
    """Exact duplicates (+100000) and near-duplicates (+200000) of doc i
    must share >= 10 winnowing fingerprints with doc i."""
    from datasmith_spark.operators.text_analysis import fingerprint_pairs

    from datasmith_spark.operators.text_analysis import winnow_fingerprints

    pairs = fingerprint_pairs(corpus, k=3, w=4, min_shared=10).toPandas()
    found = set(zip(pairs.doc_a, pairs.doc_b))
    # an EXACT duplicate shares every fingerprint, so (i, i+100000) must be
    # found exactly for the docs that have >= 10 distinct fingerprints
    nfp = {
        r.doc_id: r.n
        for r in winnow_fingerprints(corpus.filter(F.col("doc_id") < 100), k=3, w=4)
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    eligible = [i for i, n in nfp.items() if n >= 10]
    assert eligible, "fixture has no docs with >= 10 fingerprints"
    missing = [(i, i + 100000) for i in eligible if (i, i + 100000) not in found]
    assert not missing, f"planted exact-dup pairs not found: {missing[:5]}"
    # near-duplicates (3 appended tokens) must still be found for ample docs
    roomy = [i for i, n in nfp.items() if n >= 16]
    miss_near = [(i, i + 200000) for i in roomy if (i, i + 200000) not in found]
    assert not miss_near, f"planted near-dup pairs not found: {miss_near[:5]}"


def test_lsh_ann_matches_bruteforce_within_bucket(spark):
    """For every query, the LSH-ANN neighbors must be the true top-k among
    same-bucket candidates (exactness of the within-bucket search)."""
    from datasmith_spark.operators.similarity import (
        cosine_topk,
        hyperplanes,
        lsh_ann_search,
        lsh_bucket_col,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = lsh_ann_search(emb, n_queries=10, k=1).toPandas()
    assert len(got) > 0
    # top-1 neighbor returned by brute force must match whenever the pair
    # shares a bucket (sanity of the scale path vs the exact baseline)
    brute = cosine_topk(emb, n_queries=10, k=1).toPandas()
    planes = hyperplanes(64)
    buckets = {
        r.vec_id: r.b
        for r in emb.select("vec_id", lsh_bucket_col(F.col("embedding"), planes).alias("b")).collect()
    }
    for _, row in brute.iterrows():
        if buckets[row.query_id] == buckets[row.neighbor_id]:
            g = got[got.query_id == row.query_id]
            assert len(g) and g.iloc[0].neighbor_id == row.neighbor_id


def test_bpe_token_hist_consistency(spark):
    from datasmith_spark.operators.text_analysis import bpe_token_hist

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = bpe_token_hist(docs).toPandas()
    assert out.n_docs.sum() == docs.count()
    assert (out.n_word > 0).all()


def test_seq_dot_udf_edge_cases(spark):
    """Zero-length and null embeddings must not crash the Arrow dot kernel:
    empty -> 0.0 (fold over []), null array -> null (fold propagation)."""
    from datasmith_spark.operators.similarity import seq_dot_udf

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, []), (2, None), (3, [0.5, -1.0])],
        "id int, e array<double>",
    )
    rows = {r.id: r.d for r in df.select("id", seq_dot_udf("e", "e").alias("d")).collect()}
    assert rows[0] == 5.0
    assert rows[1] == 0.0
    assert rows[2] is None
    assert rows[3] == 1.25

    # all-empty batch exercises the rectangular (n, 0) fast path
    df2 = spark.createDataFrame([(0, []), (1, [])], "id int, e array<double>")
    vals = [r.d for r in df2.select(seq_dot_udf("e", "e").alias("d")).collect()]
    assert vals == [0.0, 0.0]


def test_panel_scores_skip_null_embeddings_and_keys(spark):
    """A null embedding or a null match key scores nothing on either side:
    the panel stack must not crash, and a null query key must not match
    null corpus keys (the equi-join _panel_scores replaced dropped them)."""
    from datasmith_spark.operators.similarity import _panel_scores

    e = {0: [1.0, 0.0], 2: [0.0, 1.0], 3: [1.0, 1.0], 4: [2.0, 1.0]}
    df = spark.createDataFrame(
        [(0, e[0], "a"), (1, None, "a"), (2, e[2], "a"), (3, e[3], None), (4, e[4], None)],
        "vec_id bigint, embedding array<double>, bucket string",
    )
    panel = [(0, e[0], "a"), (1, None, "a"), (4, e[4], None)]

    def pairs(match_col):
        rows = _panel_scores(df, panel, match_col=match_col).collect()
        assert all(np.isfinite(r._cos_raw) for r in rows)
        return sorted((r.query_id, r.neighbor_id) for r in rows)

    assert pairs("bucket") == [(0, 2)]
    assert pairs(None) == [(0, 2), (0, 3), (0, 4), (4, 0), (4, 2), (4, 3)]


def test_detection_method_registry(spark):
    """Pluggable strategy lookup mirrors the reference's get_detection_method
    contract: known methods dispatch, unknown raises ValueError."""
    import pytest as _pytest

    from datasmith_spark.operators.detection import detect_changepoints, get_detection_method

    assert get_detection_method("delta") is not get_detection_method("step")
    with _pytest.raises(ValueError, match="Unknown method"):
        get_detection_method("rbf-nope")
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    d1 = detect_changepoints(e, "delta")
    d2 = detect_changepoints(e, "step", threshold=-70.0)
    assert d1.columns == d2.columns == ["user_id", "idx", "delta_pct"]
    # the native "step" strategy keeps the plan Python-free
    plan = d2._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_lsh_sig_udf_matches_expression(spark):
    """The vectorized hyperplane-signature UDF (production path) must emit
    exactly the bucket string of the interpreted Column-expression form,
    including null-embedding rows (-> all-'0')."""
    from datasmith_spark.operators.similarity import hyperplanes, lsh_bucket_col, lsh_sig_col

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(300)
    extra = spark.createDataFrame(
        [(999999, None), (999998, [float("nan")] * 64)],
        schema=emb.select("vec_id", "embedding").schema,
    )
    src = emb.select("vec_id", "embedding").unionByName(extra)
    planes = hyperplanes(64, n_planes=64)  # the q25 worst case: 64 planes
    got = src.select(
        "vec_id",
        lsh_sig_col(F.col("embedding"), planes).alias("fast"),
        lsh_bucket_col(F.col("embedding"), planes).alias("slow"),
    ).toPandas()
    assert (got.fast == got.slow).all()
    assert got[got.vec_id == 999999].fast.iloc[0] == "0" * 64
    # NaN dots bit to '1' on BOTH paths (Spark/DuckDB order NaN above any
    # numeric, so `dot > 0` is true there — the UDF must mirror that)
    assert got[got.vec_id == 999998].fast.iloc[0] == "1" * 64


def test_ivf_cell_udf_matches_expression(spark):
    """IVF coarse assignment (vectorized UDF) must equal the argmax of the
    Catalyst-expression dot products (independent evaluation path)."""
    from datasmith_spark.operators.similarity import (
        dot_col,
        ivf_centroids,
        make_ivf_cell_udf,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    cents = ivf_centroids(64)
    dots = [
        dot_col(F.col("embedding"), F.array(*[F.lit(v) for v in c])).alias(f"d{i}")
        for i, c in enumerate(cents)
    ]
    got = emb.select(
        "vec_id", make_ivf_cell_udf(cents)(F.col("embedding")).alias("cell"), *dots
    ).toPandas()
    import numpy as np

    expr_cell = np.argmax(got[[f"d{i}" for i in range(len(cents))]].to_numpy(), axis=1)
    assert (got.cell.to_numpy() == expr_cell).all()
    assert len(set(got.cell)) > 1  # cells actually partition the corpus


def _raw_png(w, h, ctype, rows_payload, extra_chunks=b""):
    """Hand-build a filter-0 PNG for arbitrary color types (test-only)."""
    import struct
    import zlib

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = b"".join(b"\x00" + r for r in rows_payload)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra_chunks
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_png_roundtrip_all_filters():
    """encode_png -> decode_png is lossless under every scanline filter
    (None/Sub/Up/Average/Paeth), including mixed per-row filters."""
    from datasmith_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    for f in range(5):
        got = decode_png(encode_png(img, row_filters=f))
        assert got is not None and (got == img).all(), f
    mixed = [y % 5 for y in range(13)]
    got = decode_png(encode_png(img, row_filters=mixed))
    assert (got == img).all()


def test_png_color_types_and_corruption():
    """Gray/palette/gray+alpha/RGBA decode to HxWx3; corrupt or unsupported
    payloads return None instead of raising."""
    import struct
    import zlib

    from datasmith_spark.operators.multimodal import decode_png, encode_png

    w, h = 5, 3
    gray = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    # ctype 0: grayscale
    img = decode_png(_raw_png(w, h, 0, [gray[y].tobytes() for y in range(h)]))
    assert (img == np.repeat(gray[..., None], 3, axis=2)).all()
    # ctype 4: gray + alpha (alpha dropped)
    ga = np.dstack([gray, np.full((h, w), 7, np.uint8)])
    img = decode_png(_raw_png(w, h, 4, [ga[y].tobytes() for y in range(h)]))
    assert (img == np.repeat(gray[..., None], 3, axis=2)).all()
    # ctype 6: RGBA (alpha dropped)
    rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    rgba = np.concatenate([rgb, np.full((h, w, 1), 9, np.uint8)], axis=2)
    img = decode_png(_raw_png(w, h, 6, [rgba[y].tobytes() for y in range(h)]))
    assert (img == rgb).all()
    # ctype 3: palette
    pal = np.arange(256 * 3, dtype=np.uint8).reshape(256, 3)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    img = decode_png(
        _raw_png(w, h, 3, [gray[y].tobytes() for y in range(h)],
                 extra_chunks=chunk(b"PLTE", pal.tobytes()))
    )
    assert (img == pal[gray]).all()
    # corruption / unsupported -> None, never an exception
    good = encode_png(rgb)
    assert decode_png(good[:20]) is None            # truncated
    assert decode_png(b"nope" + good) is None       # bad signature
    assert decode_png(good[:33] + good[41:]) is None  # IDAT mangled
    interlaced = bytearray(good)
    interlaced[8 + 8 + 12] = 1  # IHDR interlace flag
    assert decode_png(bytes(interlaced)) is None
    # palette index beyond PLTE size -> None, never IndexError (r4 ADVICE:
    # the unfilter/palette stage sat outside the try/except)
    short_pal = np.arange(4 * 3, dtype=np.uint8).reshape(4, 3)  # indices 0-3
    bad_pal_png = _raw_png(
        w, h, 3, [gray[y].tobytes() for y in range(h)],  # indices reach 14
        extra_chunks=chunk(b"PLTE", short_pal.tobytes()),
    )
    assert decode_png(bad_pal_png) is None
    # malformed filter byte (200) -> None, never a crash mid-unfilter
    bad_filter = b"".join(
        (b"\xc8" if y == 1 else b"\x00") + gray[y].tobytes() for y in range(h)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw_bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(bad_filter)) + chunk(b"IEND", b""))
    assert decode_png(raw_bad) is None


def test_png_rows_flow_through_image_features(spark):
    """PNG rows in the image table decode via the Spark UDF path with
    features identical to the same image's raw-rgb8 form."""
    from datasmith_spark.operators.multimodal import image_features, synth_images

    feats = image_features(synth_images(spark, 100)).toPandas()
    png = feats[feats.fmt == "png"]
    assert len(png) > 0 and png.decode_ok.all()
    # regenerate one png row's image locally and compare features exactly
    row = png.sort_values("img_id").iloc[0]
    i = int(row.img_id.split("_")[1])
    img = np.random.default_rng([4242, i]).integers(
        0, 256, size=(row.height, row.width, 3), dtype=np.uint8
    ).astype(np.float64)
    assert row.mean_r == img[..., 0].mean() and row.mean_b == img[..., 2].mean()


def test_editdist_verify_hand_case(spark):
    """Hand-built candidate pairs: identical texts score 1.0, a one-edit
    pair scores 1 - 1/len exactly, a dissimilar pair is filtered, and the
    both-empty pair hits the max(...,1) guard instead of dividing by 0."""
    from datasmith_spark.operators.dedup import editdist_verify

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "hello worlds"),
         (4, "something else"), (5, ""), (6, "")],
        "doc_id bigint, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 6)], "doc_a bigint, doc_b bigint"
    )
    got = {
        (r.doc_a, r.doc_b): r.edit_sim
        for r in editdist_verify(docs, cand, threshold=0.8).collect()
    }
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == round(1.0 - 1.0 / 12.0, 4)
    assert (1, 4) not in got
    assert got[(5, 6)] == 1.0  # 0 edits / max(0,0,1)


def test_editdist_catches_planted_near_dups(spark, corpus, planted):
    """The q90 chain over the planted corpus: exact clones score 1.0 and
    every suffix-appended near-dup that the LSH bands surface verifies
    above the 0.8 threshold (a 15-char suffix on ~200+-char docs)."""
    from datasmith_spark.operators.dedup import (
        editdist_verify, lsh_candidate_pairs, minhash_signatures, shingles,
    )

    cand = lsh_candidate_pairs(minhash_signatures(shingles(corpus)))
    ver = {
        (r.doc_a, r.doc_b): r.edit_sim
        for r in editdist_verify(corpus, cand, threshold=0.8).collect()
    }
    exact = [(i, i + 100000) for i in planted]
    near = [(i, i + 200000) for i in planted]
    assert all(ver.get(p) == 1.0 for p in exact)
    caught = [ver[p] for p in near if p in ver]
    assert len(caught) >= 0.95 * len(near) and min(caught) >= 0.8


# ---------------------------------------------------------------------------
# prefix-filter exact set-similarity join (q154 family)
# ---------------------------------------------------------------------------


def _brute_force_pairs(sets: dict, num: int, den: int):
    """Quadratic exact Jaccard-threshold join — the spec."""
    ids = sorted(sets)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and den * inter >= num * union:
                out.add((a, b))
    return out


def test_prefix_filter_lossless_vs_brute_force(spark):
    """prefix+length filtering must return EXACTLY the brute-force pair set
    (no false negatives from the filters, no false positives from verify),
    across thresholds including t=1.0 (exact-duplicate mode)."""
    import random

    from datasmith_spark.operators.dedup import prefix_filter_pairs

    rng = random.Random(1543)
    vocab = [f"t{i}" for i in range(60)]
    sets = {}
    for i in range(40):
        sets[i] = set(rng.sample(vocab, rng.randint(5, 20)))
    # planted: exact dup, one-element edit, heavy overlap
    sets[100] = set(sets[3])
    sets[101] = set(sets[7]) | {"zz_unique"}
    sets[102] = set(list(sets[11])[:-1]) if len(sets[11]) > 1 else {"solo"}
    rows = [(i, t) for i, s in sets.items() for t in sorted(s)]
    items = spark.createDataFrame(rows, "id int, tok string")
    for num, den in ((7, 10), (1, 2), (9, 10), (1, 1)):
        got = {
            (r.doc_a, r.doc_b)
            for r in prefix_filter_pairs(items, num, den).collect()
        }
        assert got == _brute_force_pairs(sets, num, den), f"mismatch at t={num}/{den}"


def test_prefix_filter_jaccard_values_exact(spark):
    from datasmith_spark.operators.dedup import prefix_filter_pairs

    rows = [(1, t) for t in "a b c d e".split()] + [(2, t) for t in "a b c d x".split()]
    items = spark.createDataFrame(rows, "id int, tok string")
    out = prefix_filter_pairs(items, 1, 2).collect()  # J = 4/6 = 0.6667
    assert len(out) == 1 and out[0].doc_a == 1 and out[0].doc_b == 2
    assert abs(out[0].jaccard - round(4 / 6, 4)) < 1e-12


def test_prefix_filter_rejects_bad_threshold(spark):
    from datasmith_spark.operators.dedup import prefix_filter_pairs

    items = spark.createDataFrame([(1, "a")], "id int, tok string")
    with pytest.raises(ValueError):
        prefix_filter_pairs(items, 3, 2)


def test_ks_drift_matches_scipy_free_reference(spark):
    """q155's integer KS == the straightforward float two-sample KS computed
    in pure python on the same data (no scipy in the container — the
    reference formula is direct CDF supremum)."""
    from datasmith_spark.queries import QUERIES

    rows = QUERIES["q155_ks_drift"](spark, "/root/testdata/sf0.001").collect()
    import duckdb

    ev = duckdb.sql(
        "select event_type, value from read_parquet('/root/testdata/sf0.001/events.parquet')"
    ).fetchall()
    base = sorted(v for t, v in ev if t == "view")
    for r in rows:
        other = sorted(v for t, v in ev if t == r.event_type)
        pts = sorted(set(base) | set(other))
        import bisect

        d = max(
            abs(
                bisect.bisect_right(base, x) / len(base)
                - bisect.bisect_right(other, x) / len(other)
            )
            for x in pts
        )
        assert r.n_base == len(base) and r.n_type == len(other)
        assert abs(r.ks_num / r.ks_den - d) < 1e-12
