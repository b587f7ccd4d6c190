"""Autocorrelation pitch/voicing kernel and its Spark operator (q164)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.core.audio import encode
from datasmith_spark.core.pitch import PITCH_SR, frame_lags16, pitch_stats

from .conftest import REPO


def _tone(f0: float, sr: int = 16000, sec: float = 1.0, amp: float = 0.4) -> np.ndarray:
    t = np.arange(int(sr * sec)) / sr
    return amp * np.sin(2 * np.pi * f0 * t) + amp / 4 * np.sin(2 * np.pi * 2 * f0 * t)


class TestKernel:
    def test_f0_sweep_recovers_fundamental(self):
        for f0 in (85, 110, 125, 200, 333, 390):
            st = pitch_stats(_tone(f0, sec=2.0), 16000)
            assert st["voiced_pct"] == 100, f0
            # integer lag quantization: at most one lag step of error
            got = st["f0_hz"]
            lag = round(PITCH_SR / f0)
            lo = (2 * PITCH_SR + lag + 1) // (2 * (lag + 1))
            hi = (2 * PITCH_SR + lag - 1) // (2 * (lag - 1))
            assert lo <= got <= hi, (f0, got)

    def test_noise_and_silence_unvoiced(self):
        rng = np.random.default_rng(3)
        assert pitch_stats(rng.normal(size=16000) * 0.1, 16000)["n_voiced"] == 0
        st = pitch_stats(np.zeros(16000), 16000)
        assert st["n_voiced"] == 0 and st["med_lag"] == 0 and st["f0_hz"] == 0
        assert pitch_stats(np.zeros(100), 16000)["n_frames"] == 0

    def test_resample_path_matches_16k_semantics(self):
        # a 110 Hz tone at 8 kHz source still lands on ~110 Hz
        st = pitch_stats(_tone(110, sr=8000, sec=2.0), 8000)
        assert st["voiced_pct"] == 100 and abs(st["f0_hz"] - 110) <= 2

    def test_voiced_mix_fraction(self):
        # half tone, half noise -> voiced_pct strictly between
        rng = np.random.default_rng(5)
        x = np.concatenate([_tone(150, sec=1.0), rng.normal(size=16000) * 0.1])
        st = pitch_stats(x, 16000)
        assert 30 <= st["voiced_pct"] <= 70, st

    def test_frame_lags_shape_and_determinism(self):
        x = _tone(125, sec=0.5)
        fl = frame_lags16(x)
        assert fl.shape[1] == 2 and fl.dtype == np.int32
        assert np.array_equal(fl, frame_lags16(x))

    def test_dc_offset_rejected(self):
        # constant offset must not register as voiced lag-range energy
        st = pitch_stats(np.full(16000, 0.5), 16000)
        assert st["n_voiced"] == 0


class TestOperator:
    def test_arbitrary_ids_and_undecodable(self, spark):
        from datasmith_spark.operators.audio_ops import pitch_stats_clips

        rows = [
            ("s3://b/voice memo.wav", encode(_tone(125, sec=0.5), "pcm16"), 16000, "pcm16"),
            ("no-suffix", encode(_tone(200, sec=0.5), "pcm16"), 16000, "pcm16"),
            ("bad", b"\x00\x01", None, "pcm16"),
        ]
        df = spark.createDataFrame(rows, "clip_id string, bytes binary, sr_hz int, codec string")
        out = {r.clip_id: r for r in pitch_stats_clips(df).collect()}
        assert out["s3://b/voice memo.wav"].ok and out["s3://b/voice memo.wav"].f0_hz == 125
        assert out["no-suffix"].f0_hz == 200
        assert not out["bad"].ok and out["bad"].n_frames == 0

    def test_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_pitch_fixture as mpf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_pitch_n4000.parquet")
        assert len(fix) == 4000
        idx = list(range(0, 4000, 41))
        fresh = mpf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        for c in fresh.columns:
            assert (sample[c].astype(str) == fresh[c].astype(str)).all(), c

    def test_registry_has_q164(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q164_pitch_stats" in QUERIES and "q164_pitch_stats" in ORACLE_SQL
