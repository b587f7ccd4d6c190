"""MFCC + regression-delta kernel and its Spark operator (q160)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from datasmith_spark.core.resample import _dct_basis, delta, logmel, mfcc

from .conftest import REPO


def _sine(freq: float, sr: int, sec: float = 0.5) -> np.ndarray:
    t = np.arange(int(sr * sec), dtype=np.float64) / sr
    return 0.5 * np.sin(2 * np.pi * freq * t)


class TestMfccKernel:
    def test_shapes(self):
        x = _sine(440, 16000)
        f = mfcc(x, 16000)
        assert f.shape == (logmel(x, 16000).shape[0], 39)
        assert mfcc(x, 16000, deltas=False).shape[1] == 13
        assert mfcc(np.zeros(100), 16000).shape == (0, 39)

    def test_dct_basis_orthonormal(self):
        """Full-order basis rows are orthonormal -> the cepstral transform
        is an isometry (Parseval), the property that makes truncation to 13
        coefficients an energy-ranked compression of the log-mel vector."""
        b = _dct_basis(40, 40)
        assert np.allclose(b @ b.T, np.eye(40), atol=1e-12)

    def test_full_order_parseval(self):
        x = _sine(700, 16000)
        m = logmel(x, 16000)
        cep = mfcc(x, 16000, n_mfcc=40, deltas=False)
        assert np.allclose((cep**2).sum(axis=1), (m**2).sum(axis=1), rtol=1e-12)

    def test_c0_is_scaled_mean(self):
        """Coefficient 0 of the orthonormal DCT-II is sqrt(n_mels) * the
        frame's mean log-mel energy — the loudness axis."""
        x = _sine(300, 16000)
        m = logmel(x, 16000)
        cep = mfcc(x, 16000, deltas=False)
        assert np.allclose(cep[:, 0], m.mean(axis=1) * np.sqrt(40), rtol=1e-12)

    def test_delta_properties(self):
        assert (delta(np.ones((7, 3))) == 0.0).all()
        ramp = np.arange(9, dtype=float)[:, None] * np.ones((1, 2))
        assert np.allclose(delta(ramp)[2:-2], 1.0)
        # linearity
        a = np.random.default_rng(7).normal(size=(12, 4))
        b = np.random.default_rng(8).normal(size=(12, 4))
        assert np.allclose(delta(a + 2 * b), delta(a) + 2 * delta(b), atol=1e-12)

    def test_determinism(self):
        x = _sine(523, 22050, 0.3)
        assert np.array_equal(mfcc(x, 22050), mfcc(x, 22050))


class TestMfccOperator:
    @pytest.fixture(scope="class")
    def clips(self, spark):
        from datasmith_spark.datagen import clips_df

        return clips_df(spark, 120, n_partitions=4).cache()

    def test_digest_mode_matches_array_mode(self, spark, clips):
        from datasmith_spark.operators.audio_ops import mfcc_features

        arr = mfcc_features(clips).toPandas().set_index("clip_id")
        dig = mfcc_features(clips, digest=True).toPandas().set_index("clip_id")
        assert (arr[["ok", "n_frames", "n_coef"]] == dig[["ok", "n_frames", "n_coef"]]).all().all()
        for cid, row in arr.iterrows():
            want = hashlib.md5(
                np.ascontiguousarray(np.asarray(row.feats), dtype="<f8").tobytes()
            ).hexdigest()
            assert dig.loc[cid].feats_md5 == want

    def test_arbitrary_ids(self, spark):
        """The composable path must accept real-world clip ids (the r4
        audio_fp lesson): no datagen naming assumption anywhere."""
        from datasmith_spark.core.audio import encode
        from datasmith_spark.operators.audio_ops import mfcc_features

        pcm = _sine(440, 16000, 0.2)
        rows = [
            ("s3://bucket/a b/clip.flac", encode(pcm, "pcm16"), 16000, "pcm16"),
            ("no-suffix", encode(pcm, "pcm16"), 16000, "pcm16"),
            ("bad", b"\x00\x01", None, "pcm16"),
        ]
        df = spark.createDataFrame(rows, "clip_id string, bytes binary, sr_hz int, codec string")
        out = {r.clip_id: r for r in mfcc_features(df).collect()}
        assert out["s3://bucket/a b/clip.flac"].ok and out["no-suffix"].ok
        assert not out["bad"].ok and out["bad"].n_frames == 0

    def test_fixture_is_honest(self):
        """The committed MFCC fixture (q160's DuckDB oracle input) must
        equal a fresh regeneration on a deterministic row sample."""
        import sys

        import pandas as pd

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_mfcc_fixture as mmf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_mfcc_n4000.parquet")
        assert len(fix) == 4000
        idx = list(range(0, 4000, 31))
        fresh = mmf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        for c in fresh.columns:
            assert (sample[c].astype(str) == fresh[c].astype(str)).all(), c

    def test_registry_has_q160(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q160_mfcc_features" in QUERIES and "q160_mfcc_features" in ORACLE_SQL
