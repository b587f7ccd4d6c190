"""Effective-bit-depth audit (q172): gcd grid kernel, planted bit-crush
recovery, arbitrary-id operator, fixture honesty."""

from __future__ import annotations

import numpy as np
import pandas as pd

from datasmith_spark.core.audio import decode, encode
from datasmith_spark.core.bitdepth import (
    FRAUD_MARGIN,
    NOMINAL_BITS,
    PLANT_BITS,
    bitdepth_metrics,
    bitdepth_variant,
)

from .conftest import REPO


def _tone(sr: int = 16000, sec: float = 1.0, f: float = 211.0, amp: float = 0.5):
    t = np.arange(int(sr * sec)) / sr
    return amp * np.sin(2 * np.pi * f * t)


def _crush(x: np.ndarray, bits: int) -> np.ndarray:
    step = float(1 << (16 - bits))
    return np.rint(x * 32767.0 / step) * step / 32767.0


class TestKernel:
    def test_full_resolution_content_measures_nominal(self):
        # a pcm16 round-trip measures exactly 16 bits (gcd 1)
        x = decode(encode(_tone(), "pcm16"), "pcm16")
        m = bitdepth_metrics(x, "pcm16")
        assert m["eff_bits"] == 16 and m["grid_gcd"] == 1 and m["keep"]
        assert bitdepth_metrics(_tone(), "float32")["eff_bits"] == 16

    def test_pcm8_grid_is_its_own_nominal(self):
        # the pcm8 decode grid has gcd exactly 256 -> 8 bits == nominal
        x = decode(encode(_tone(), "pcm8"), "pcm8")
        m = bitdepth_metrics(x, "pcm8")
        assert m["grid_gcd"] == 256 and m["eff_bits"] == 8 and m["keep"]

    def test_crushed_grids_measured_exactly(self):
        x = _tone()
        for bits in (4, 6, 8, 10, 12):
            m = bitdepth_metrics(_crush(x, bits), "pcm16")
            assert m["eff_bits"] == bits, (bits, m)
            assert m["depth_fraud"] == (bits + FRAUD_MARGIN <= 16)

    def test_one_off_grid_sample_breaks_the_gcd(self):
        y = _crush(_tone(), 6)
        y[100] = 3.0 / 32767.0  # a single full-resolution sample
        m = bitdepth_metrics(y, "pcm16")
        assert m["grid_gcd"] == 1 and m["eff_bits"] == 16 and m["keep"]

    def test_float32_hiding_8bit_source_flagged(self):
        # the fraud case the lane exists for: a float container whose
        # content is secretly 8-bit-sourced
        x = decode(encode(_tone(), "pcm8"), "pcm8")
        m = bitdepth_metrics(x, "float32")
        assert m["eff_bits"] == 8 and m["depth_fraud"] and not m["keep"]

    def test_companded_and_silent_unjudged(self):
        assert bitdepth_metrics(_tone(), "mulaw")["eff_bits"] is None
        assert bitdepth_metrics(_tone(), "alaw")["eff_bits"] is None
        assert bitdepth_metrics(np.zeros(100), "pcm16")["eff_bits"] is None
        assert bitdepth_metrics(None, "pcm16")["keep"]
        assert bitdepth_metrics(np.zeros(0), "pcm16")["keep"]
        assert bitdepth_metrics(_tone(), "opus")["keep"]

    def test_variant_deterministic_both_depths_and_edges(self):
        x = _tone()
        y = bitdepth_variant(x, "pcm16", "any id at all")
        assert np.array_equal(y, bitdepth_variant(x, "pcm16", "any id at all"))
        depths = set()
        for cid in ("a", "b", "c", "d", "e", "f", "g"):
            m = bitdepth_metrics(bitdepth_variant(x, "pcm16", cid), "pcm16")
            assert m["depth_fraud"]
            depths.add(m["eff_bits"])
        assert depths == set(PLANT_BITS)
        assert bitdepth_variant(x, "mulaw", "c") is None
        assert bitdepth_variant(np.zeros(0), "pcm16", "c") is None
        # a clip too quiet to survive a 4/6-bit grid crushes to silence
        assert bitdepth_variant(_tone(amp=1e-4), "pcm16", "b") is None


class TestOperator:
    def test_arbitrary_ids_and_planting(self, spark):
        from datasmith_spark.operators.audio_ops import bitdepth_clips

        clean = _tone(sec=0.5)
        bad = bitdepth_variant(clean, "float32", "u-1")
        rows = [
            ("s3://b/t rack.wav", encode(clean, "float32"), 16000, "float32"),
            ("u-1", encode(bad, "float32"), 16000, "float32"),
            ("broken", b"\x07\x01\x02", None, "float32"),
        ]
        df = spark.createDataFrame(rows, "clip_id string, bytes binary, sr_hz int, codec string")
        out = {r.clip_id: r for r in bitdepth_clips(df).collect()}
        assert out["s3://b/t rack.wav"].keep and out["s3://b/t rack.wav"].eff_bits == 16
        assert not out["u-1"].keep and out["u-1"].depth_fraud
        assert not out["broken"].ok and out["broken"].keep

    def test_plants_recovered_zero_base_flags(self, spark):
        from datasmith_spark import datagen
        from datasmith_spark.operators.audio_ops import bitdepth_clips

        clips = datagen.clips_df(spark, 200, n_partitions=4)
        got = bitdepth_clips(clips, aug_every=40).toPandas()
        plants = got[got.clip_id.str.startswith("bd_")]
        base = got[~got.clip_id.str.startswith("bd_")]
        assert len(plants) >= 2 and plants.depth_fraud.all()
        assert not base.depth_fraud.any()
        judged = base[base.eff_bits.notna()]
        # natural deficit is exactly zero on every judged clip
        assert (judged.eff_bits == judged.nominal_bits).all()

    def test_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_bitdepth_fixture as mbf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_bitdepth_n4000.parquet")
        lo, hi = 1100, 1300
        fresh = mbf.oracle_rows(range(lo, hi)).reset_index(drop=True)
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"bd_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)].reset_index(drop=True)
        assert len(sample) == len(fresh) > 0
        for c in fresh.columns:
            assert (sample[c].astype(str) == fresh[c].astype(str)).all(), c

    def test_registry_has_q172(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q172_bitdepth_audit" in QUERIES and "q172_bitdepth_audit" in ORACLE_SQL
