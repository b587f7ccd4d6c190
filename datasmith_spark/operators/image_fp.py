"""Image perceptual near-duplicate detection (Spark operators).

The image-modality twin of operators/audio_fp.py, completing the near-dup
matrix (text: MinHash/SimHash/winnowing/spans; audio: Haitsma-Kalker exact
+ Hamming-ball lanes; embeddings: LSH-prefiltered cosine; images: THIS).

Flow — the proven three-stage shape:

  1. hash: Arrow-batched narrow map decoding each image worker-side
     (PNG/JPEG/rgb8 via the shared pure-python codecs; bytes never enter
     the JVM on the fused-scan path) and emitting the 64-bit dHash as four
     16-bit bands (core/image_fp.py — integer-exact end to end).
  2. candidates: ids sharing ANY band, via the shared hot-key-capped band
     join (operators/pairs.py) — a meme re-uploaded a million times costs
     O(m) star pairs, never O(m^2).
  3. verify: exact 64-bit Hamming distance, computed JVM-side from the four
     band columns (bitwiseXOR + bit_count — whole-stage codegen, no Python)
     for candidate pairs only.

At 10^12 images: stage 1 is a shuffle-free narrow map, stage 2 shuffles
short uniform int keys through the cap, stage 3 touches candidates only.

The planted-duplicate derivation (core/image_fp.aug_exposure_variant — a
deterministic gain+brightness levels adjustment) rides the same scan: every
aug_every-th decodable image also emits the hash of its adjusted copy under
an `imgaug_` id, giving integer-exact ground truth for recall tests and the
DuckDB oracle from the SAME decode pass.

Reference ancestry: exact-key asset dedup at
/root/reference/src/datasmith/scrape/code_coverage.py:83-88; the perceptual
generalization is public technique (Krawetz dHash / Monga-Evans).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.image_fp import DH_MAX_HAMMING, aug_exposure_variant, dhash_bands
from .scan_decode import manifest_scan

IMG_HASH_DDL = "img_id string, b0 int, b1 int, b2 int, b3 int"
_BAND_COLS = ["b0", "b1", "b2", "b3"]

# q65's planting cadence on the pinned n=4000 image table: an exposure
# variant for every 40th decodable image (98 imgaug_ rows — indices 0 and
# 2040 fall on the corrupt-JPEG lane). Shared by the Spark query, the
# fixture script and the tests, like audio_fp.FP_AUG_EVERY.
IMG_AUG_EVERY = 40


def _img_index(img_id: str) -> int:
    """Row index from an `img_<i>` / `imgaug_<i>` id (datagen naming)."""
    return int(img_id.rsplit("_", 1)[1])


def _hash_rows(pdf: pd.DataFrame, aug_every: int) -> pd.DataFrame:
    """One pandas batch of images -> (img_id, b0..b3) dHash rows (+ planted
    exposure variants under imgaug_ ids every aug_every-th decodable image).
    Undecodable / too-small rows emit nothing (flag-not-crash contract)."""
    from .multimodal import decode_image

    ids: list[str] = []
    bands: list[list[int]] = []
    for iid, buf, w, h, fmt in zip(
        pdf["img_id"], pdf["bytes"], pdf["width"], pdf["height"], pdf["fmt"]
    ):
        img = decode_image(buf, int(w), int(h), fmt)
        if img is None:
            continue
        bs = dhash_bands(img)
        if bs is None:
            continue
        ids.append(iid)
        bands.append(bs)
        # The datagen index is a test-harness concern (planting ground-truth
        # duplicates); the composable default (aug_every=0) must accept
        # arbitrary image ids, so only parse when planting is on — the same
        # contract as audio_fp._fp_rows_generic.
        if aug_every and _img_index(iid) % aug_every == 0:
            bs2 = dhash_bands(aug_exposure_variant(img))
            if bs2 is not None:
                ids.append(f"imgaug_{_img_index(iid):012d}")
                bands.append(bs2)
    cols = list(zip(*bands)) if bands else [[], [], [], []]
    return pd.DataFrame(
        {
            "img_id": ids,
            **{c: pd.array(v, dtype="int32") for c, v in zip(_BAND_COLS, cols)},
        }
    )


def image_hashes(images: DataFrame, aug_every: int = 0) -> DataFrame:
    """(img_id, b0..b3) dHash rows from an images DataFrame (composable
    path; image bytes cross the JVM<->Python socket once on the way in)."""
    from collections.abc import Iterator

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _hash_rows(pdf, aug_every)

    from .multimodal import IMAGE_COLUMNS

    return images.select(*IMAGE_COLUMNS).mapInPandas(_run, schema=IMG_HASH_DDL)


def image_hash_scan(spark: SparkSession, input_dir: str, aug_every: int = 0) -> DataFrame:
    """image_hashes over a parquet directory via the fused manifest scan
    (image bytes never enter the JVM). The pure-python codecs are the
    kernel."""
    from .multimodal import IMAGE_COLUMNS

    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _hash_rows(pdf, aug_every),
        IMG_HASH_DDL,
        columns=IMAGE_COLUMNS,
    )


def image_neardup_pairs(
    hashes: DataFrame, max_hamming: int = DH_MAX_HAMMING, cap: int | None = None
) -> DataFrame:
    """(img_a, img_b, hamming) near-duplicate pairs: candidates share ANY
    16-bit band (hot-key-capped), verified by exact 64-bit Hamming distance
    <= max_hamming — all-integer columns, so the value check is exact.

    The verify is JVM-native (two broadcast-eligible joins back to the
    four band columns, bitwiseXOR + bit_count inside whole-stage codegen);
    only candidate pairs pay it.
    """
    from .pairs import capped_band_pairs

    h = hashes.select(F.col("img_id").alias("id"), *_BAND_COLS)
    cand = capped_band_pairs(h, _BAND_COLS, "id", cap, materialize=False)
    ha = h.select(F.col("id").alias("a"), *[F.col(c).alias(f"{c}_a") for c in _BAND_COLS])
    hb = h.select(F.col("id").alias("b"), *[F.col(c).alias(f"{c}_b") for c in _BAND_COLS])
    dist = None
    for c in _BAND_COLS:
        term = F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b")))
        dist = term if dist is None else dist + term
    return (
        cand.join(ha, "a")
        .join(hb, "b")
        .select(
            F.col("a").alias("img_a"),
            F.col("b").alias("img_b"),
            dist.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------- incremental lane

def _melt_bands(hashes: DataFrame) -> DataFrame:
    """(img_id, b0..b3) -> (img_id, bk) band-key rows ('0#<v>' composite
    keys — the same construction capped_band_pairs melts to, so batch and
    store sides agree byte-for-byte)."""
    return hashes.select(
        "img_id",
        F.explode(
            F.array(
                *[F.concat(F.lit(f"{i}#"), F.col(c)) for i, c in enumerate(_BAND_COLS)]
            )
        ).alias("bk"),
    ).filter(F.col("bk").isNotNull())


def seen_store_image_neardup(
    batch_hashes: DataFrame,
    store_melted: DataFrame,
    store_wide: DataFrame,
    max_hamming: int = DH_MAX_HAMMING,
    cap: int | None = None,
) -> DataFrame:
    """(batch_id, seen_id, hamming) pairs where an incoming image is within
    max_hamming of an already-seen one: band-key equi-join through the
    hot-key cap (keys hot on either side are excluded — a pair glued only
    by a viral band value can't pass the Hamming verify anyway), then the
    exact 64-bit verify on candidates only, JVM-native like
    image_neardup_pairs."""
    from .pairs import pair_key_cap

    cap = pair_key_cap(cap)
    bm = _melt_bands(batch_hashes).select(F.col("img_id").alias("bid"), "bk")
    sm = store_melted.select(F.col("img_id").alias("sid"), "bk")
    cold = (
        bm.groupBy("bk").agg(F.count("*").alias("_bc"))
        .join(sm.groupBy("bk").agg(F.count("*").alias("_sc")), "bk")
        .filter((F.col("_bc") <= cap) & (F.col("_sc") <= cap))
        .select("bk")
    )
    cand = (
        bm.join(cold, "bk").join(sm, "bk").select("bid", "sid").distinct()
    )
    hb = batch_hashes.select(
        F.col("img_id").alias("bid"), *[F.col(c).alias(f"{c}_b") for c in _BAND_COLS]
    )
    hs = store_wide.select(
        F.col("img_id").alias("sid"), *[F.col(c).alias(f"{c}_s") for c in _BAND_COLS]
    )
    dist = None
    for c in _BAND_COLS:
        term = F.bit_count(F.col(f"{c}_b").bitwiseXOR(F.col(f"{c}_s")))
        dist = term if dist is None else dist + term
    return (
        cand.join(hb, "bid")
        .join(hs, "sid")
        .select(
            F.col("bid").alias("batch_id"),
            F.col("sid").alias("seen_id"),
            dist.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def ingest_image_batch(
    spark: SparkSession,
    tl,
    store: str,
    batch_hashes: DataFrame,
    max_hamming: int = DH_MAX_HAMMING,
    cap: int | None = None,
    n_buckets: int = 32,
):
    """One image-ingest step against a persisted dHash store: probe, then
    append only NOVEL images — the continuous-ingest dedup shape
    operators/incremental.py established for audio fingerprints, carried
    to the image lane (the corpus is never re-self-joined at 10^12 images;
    only the batch shuffles against the bucketed band-key store).

    Store layout: `store` = melted (img_id, bk) rows bucketed on bk (the
    probe's join key — zero-exchange on the store side), plus
    `store__wide` = (img_id, b0..b3) for the Hamming verify. Returns
    (pairs, n_novel, n_dup); pairs is pinned via eager localCheckpoint
    BEFORE the append (same rationale as incremental.ingest_batch)."""
    wide_name = f"{store}__wide"
    if not tl.exists(spark, store):
        tl.write_bucketed(_melt_bands(batch_hashes), store, "bk", n_buckets=n_buckets)
        batch_hashes.write.format(tl.fmt).mode("overwrite").saveAsTable(
            tl.ident(wide_name)
        )
        n = batch_hashes.select("img_id").distinct().count()
        empty = seen_store_image_neardup(
            batch_hashes.limit(0), _melt_bands(batch_hashes.limit(0)), batch_hashes.limit(0)
        )
        return empty, n, 0
    pairs = seen_store_image_neardup(
        batch_hashes,
        tl.read(spark, store),
        tl.read(spark, wide_name),
        max_hamming=max_hamming,
        cap=cap,
    ).localCheckpoint(eager=True)
    dup_ids = pairs.select(F.col("batch_id").alias("img_id")).distinct()
    novel = batch_hashes.join(dup_ids, "img_id", "left_anti")
    n_dup = dup_ids.count()
    n_novel = novel.select("img_id").distinct().count()
    (
        _melt_bands(novel).write.format(tl.fmt)
        .mode("append")
        .bucketBy(n_buckets, "bk")
        .sortBy("bk")
        .saveAsTable(tl.ident(store))
    )
    novel.write.format(tl.fmt).mode("append").saveAsTable(tl.ident(wide_name))
    spark.catalog.refreshTable(tl.ident(store))
    spark.catalog.refreshTable(tl.ident(wide_name))
    return pairs, n_novel, n_dup
