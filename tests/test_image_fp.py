"""Image perceptual near-dup lane (q65): dHash kernel invariants, planted
exposure-variant recall, arbitrary-id contract, fixture honesty."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.core.image_fp import (
    DH_MAX_HAMMING,
    aug_exposure_variant,
    dhash_bands,
    hamming_bands,
    luma_cells,
)
from datasmith_spark.operators.multimodal import decode_image, synth_image_record

from .conftest import REPO


def _img(i: int) -> np.ndarray:
    rng = np.random.default_rng([991, i])
    return rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)


class TestDhashKernel:
    def test_band_shape_and_determinism(self):
        img = _img(1)
        b1, b2 = dhash_bands(img), dhash_bands(img)
        assert b1 == b2
        assert len(b1) == 4
        assert all(0 <= b < (1 << 16) for b in b1)

    def test_luma_cells_partition_exactly(self):
        img = _img(2)
        sums, counts = luma_cells(img)
        assert sums.shape == (8, 9) and counts.shape == (8, 9)
        assert int(counts.sum()) == 24 * 32
        px = img.astype(np.int64)
        total = int((299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2]).sum())
        assert int(sums.sum()) == total

    def test_exposure_variant_is_near_unrelated_is_far(self):
        a = _img(3)
        da = dhash_bands(a)
        dv = dhash_bands(aug_exposure_variant(a))
        db = dhash_bands(_img(4))
        assert hamming_bands(da, dv) <= DH_MAX_HAMMING
        assert hamming_bands(da, db) > DH_MAX_HAMMING
        # the banded candidate filter needs one clean band on true dups
        assert any(x == y for x, y in zip(da, dv))

    def test_gain_only_scaling_is_hash_invariant(self):
        # pure multiplicative gain preserves every cross-multiplied compare
        # (no clipping at gain < 1), so the hash is bit-identical
        img = (_img(5) // 2).astype(np.uint8)  # headroom: no clip at 3/4 gain
        scaled = ((img.astype(np.int64) * 3) // 4).astype(np.uint8)
        # integer floor division CAN flip ties; allow the tiny residue
        assert hamming_bands(dhash_bands(img), dhash_bands(scaled)) <= 2

    def test_too_small_image_returns_none(self):
        assert dhash_bands(np.zeros((4, 4, 3), dtype=np.uint8)) is None
        assert dhash_bands(np.zeros((24, 8, 3), dtype=np.uint8)) is None


class TestImageNeardupSpark:
    def test_planted_variants_recovered_arbitrary_ids(self, spark):
        from datasmith_spark.operators.image_fp import image_hashes, image_neardup_pairs

        base = [_img(i) for i in range(6)]
        rows = [(f"s3://imgs/photo-{i}.raw", im.tobytes()) for i, im in enumerate(base)]
        # two exposure-variant re-uploads under real-world ids
        rows.append(("reupload/a", aug_exposure_variant(base[0]).tobytes()))
        rows.append(("reupload/b", aug_exposure_variant(base[3]).tobytes()))
        pdf = pd.DataFrame(
            {
                "img_id": [r[0] for r in rows],
                "bytes": [r[1] for r in rows],
                "width": 32,
                "height": 24,
                "fmt": "rgb8",
            }
        )
        images = spark.createDataFrame(pdf)
        pairs = image_neardup_pairs(image_hashes(images)).collect()
        got = {tuple(sorted((r.img_a, r.img_b))) for r in pairs}
        assert ("reupload/a", "s3://imgs/photo-0.raw") in got
        assert ("reupload/b", "s3://imgs/photo-3.raw") in got
        assert len(got) == 2  # no false pairs among 6 unrelated noise images
        assert all(r.hamming <= DH_MAX_HAMMING for r in pairs)

    def test_undecodable_rows_skip_not_crash(self, spark):
        from datasmith_spark.operators.image_fp import image_hashes

        pdf = pd.DataFrame(
            {
                "img_id": ["ok", "torn"],
                "bytes": [_img(7).tobytes(), b"\x89PNG\r\n\x1a\nnot-a-png"],
                "width": 32,
                "height": 24,
                "fmt": ["rgb8", "png"],
            }
        )
        out = image_hashes(spark.createDataFrame(pdf)).collect()
        assert [r.img_id for r in out] == ["ok"]


class TestFixtureHonesty:
    def test_committed_fixture_matches_regenerated_sample(self):
        from datasmith_spark.operators.image_fp import IMG_AUG_EVERY, _hash_rows

        fx = pd.read_parquet(f"{REPO}/fixtures/oracle_image_fp_n4000.parquet")
        sample = list(range(0, 200))
        regen = _hash_rows(
            pd.DataFrame([synth_image_record(i) for i in sample]),
            aug_every=IMG_AUG_EVERY,
        )
        ids = set(regen["img_id"])
        sub = (
            fx[fx["img_id"].isin(ids)]
            .sort_values("img_id")
            .reset_index(drop=True)
        )
        regen = regen.sort_values("img_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(sub, regen)

    def test_fixture_planted_pairs_separate_cleanly(self):
        fx = pd.read_parquet(f"{REPO}/fixtures/oracle_image_fp_n4000.parquet")
        byid = {r.img_id: [r.b0, r.b1, r.b2, r.b3] for r in fx.itertuples()}
        augs = [i for i in byid if i.startswith("imgaug_")]
        assert len(augs) == 98
        for a in augs:
            base = f"img_{int(a.rsplit('_', 1)[1]):08d}"
            d = hamming_bands(byid[a], byid[base])
            assert d <= DH_MAX_HAMMING, (a, d)
            assert any(x == y for x, y in zip(byid[a], byid[base]))

    def test_decoded_fixture_row_matches_codec_path(self):
        # a PNG row (i=9) and a JPEG row (i=17) hash identically through
        # decode_image as the fixture records — pins codec+hash integration
        fx = pd.read_parquet(f"{REPO}/fixtures/oracle_image_fp_n4000.parquet")
        for i in (9, 17):
            r = synth_image_record(i)
            img = decode_image(r["bytes"], r["width"], r["height"], r["fmt"])
            want = fx[fx["img_id"] == r["img_id"]].iloc[0]
            assert dhash_bands(img) == [want.b0, want.b1, want.b2, want.b3]



class TestThumbnails:
    """q79: resize geometry, digest parity with the serial pass, corrupt
    flag-not-crash, fixture honesty."""

    def test_resize_geometry_and_determinism(self):
        from datasmith_spark.operators.multimodal import resize_rgb8

        img = _img(11)
        t = resize_rgb8(img, 16, 12)
        assert t.shape == (12, 16, 3) and t.dtype == np.uint8
        assert np.array_equal(t, resize_rgb8(img, 16, 12))
        # nearest-neighbor: every output pixel is an input pixel
        assert np.array_equal(t[0, 0], img[0, 0])

    def test_fixture_honesty(self):
        from scripts.make_image_thumb_fixture import oracle_rows

        fx = pd.read_parquet(f"{REPO}/fixtures/oracle_image_thumb_n4000.parquet")
        regen = oracle_rows(range(0, 150))
        pd.testing.assert_frame_equal(fx.iloc[:150].reset_index(drop=True), regen)

    def test_corrupt_rows_flag_not_crash(self):
        from datasmith_spark.operators.multimodal import _thumb_pdf, synth_image_record

        rows = [synth_image_record(i) for i in (0, 1, 2)]  # i=0 is corrupt JPEG
        out = _thumb_pdf(pd.DataFrame(rows))
        assert not out.loc[0, "thumb_ok"] and out.loc[0, "thumb_md5"] is None
        assert out.loc[1, "thumb_ok"] and out.loc[1, "thumb_md5"]
if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-q"]))
