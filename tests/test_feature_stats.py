"""Corpus-level feature statistics (q182) and corpus CMVN (q183):
fixed-point exactness, order independence, fixture honesty."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from datasmith_spark.core.resample import (
    QSTATS_SCALE,
    corpus_cmvn_apply,
    corpus_cmvn_constants,
    logmel,
    logmel_qstats,
)

from .conftest import REPO

FIXTURE = f"{REPO}/fixtures/oracle_feature_qstats_n4000.parquet"
CMVN_FIXTURE = f"{REPO}/fixtures/oracle_corpus_cmvn_n4000.parquet"


def _sine(freq: float, sr: int, sec: float = 0.5) -> np.ndarray:
    t = np.arange(int(sr * sec), dtype=np.float64) / sr
    return 0.5 * np.sin(2 * np.pi * freq * t)


class TestQStatsKernel:
    def test_matches_direct_quantized_sums(self):
        x = _sine(440, 16000)
        nf, s, ss = logmel_qstats(x, 16000)
        q = np.rint(logmel(x, 16000) * QSTATS_SCALE).astype(np.int64)
        assert nf == q.shape[0]
        assert np.array_equal(s, q.sum(axis=0))
        assert np.array_equal(ss, (q * q).sum(axis=0))

    def test_partials_compose_exactly(self):
        """The whole point of fixed-point: stats of a concatenated corpus
        equal the integer sum of per-clip partials, in ANY order."""
        clips = [_sine(f, 16000, 0.3) for f in (200, 450, 900, 1700)]
        parts = [logmel_qstats(c, 16000) for c in clips]
        total_s = sum(p[1] for p in parts)
        total_ss = sum(p[2] for p in parts)
        rev_s = sum(p[1] for p in reversed(parts))
        assert np.array_equal(total_s, rev_s)  # exact, order-free
        assert total_s.dtype == np.int64 and total_ss.dtype == np.int64

    def test_short_clip_contributes_nothing(self):
        nf, s, ss = logmel_qstats(np.zeros(100), 16000)
        assert nf == 0 and (s == 0).all() and (ss == 0).all()

    def test_constants_deterministic_and_apply_bit_exact(self):
        clips = [_sine(f, 16000, 0.4) for f in (300, 800)]
        parts = [logmel_qstats(c, 16000) for c in clips]
        n = sum(p[0] for p in parts)
        s = sum(p[1] for p in parts)
        ss = sum(p[2] for p in parts)
        m1, i1 = corpus_cmvn_constants(n, s, ss)
        m2, i2 = corpus_cmvn_constants(n, s.copy(), ss.copy())
        assert np.array_equal(m1, m2) and np.array_equal(i1, i2)
        a = corpus_cmvn_apply(clips[0], 16000, m1, i1)
        b = corpus_cmvn_apply(clips[0], 16000, m2, i2)
        assert np.array_equal(a, b)
        # normalized corpus has ~zero mean per bin in the quantized domain
        allq = np.vstack(
            [corpus_cmvn_apply(c, 16000, m1, i1) for c in clips]
        )
        assert np.abs(allq.mean(axis=0)).max() < 1.0  # q-units, <1 LSB


class TestFixtureHonesty:
    def test_qstats_fixture_matches_kernel_sample(self):
        from datasmith_spark import datagen
        from datasmith_spark.core.audio import decode

        fx = pd.read_parquet(FIXTURE)
        clips = datagen.gen_batch(range(0, 40))
        for row in clips.itertuples(index=False):
            sr = None if pd.isna(row.sr_hz) else int(row.sr_hz)
            pcm = decode(row.bytes, row.codec) if sr and sr > 0 else None
            sub = fx[fx.clip_id == row.clip_id].sort_values("bin")
            if pcm is None:
                assert len(sub) == 0
                continue
            nf, s, ss = logmel_qstats(pcm, sr)
            if nf == 0:
                assert len(sub) == 0
                continue
            assert len(sub) == 40
            assert (sub.n_frames == nf).all()
            assert np.array_equal(sub.sum_q.to_numpy(), s)
            assert np.array_equal(sub.sumsq_q.to_numpy(), ss)

    def test_cmvn_fixture_digests_rederivable(self):
        from datasmith_spark import datagen
        from datasmith_spark.core.audio import decode

        fx = pd.read_parquet(FIXTURE)
        g = fx.groupby("bin", sort=True).agg(
            n_frames=("n_frames", "sum"), sum_q=("sum_q", "sum"),
            sumsq_q=("sumsq_q", "sum"),
        )
        mean_q, istd_q = corpus_cmvn_constants(
            int(g.n_frames.iloc[0]),
            g.sum_q.to_numpy(dtype=np.int64),
            g.sumsq_q.to_numpy(dtype=np.int64),
        )
        cm = pd.read_parquet(CMVN_FIXTURE).set_index("clip_id")
        clips = datagen.gen_batch(range(0, 25))
        for row in clips.itertuples(index=False):
            sr = None if pd.isna(row.sr_hz) else int(row.sr_hz)
            pcm = decode(row.bytes, row.codec) if sr and sr > 0 else None
            want = cm.loc[row.clip_id]
            if pcm is None:
                assert not want.ok
                continue
            a = corpus_cmvn_apply(pcm, sr, mean_q, istd_q)
            dig = hashlib.md5(
                np.ascontiguousarray(a.reshape(-1), dtype="<f8").tobytes()
            ).hexdigest()
            assert want.ok and want.feats_md5 == dig


class TestSparkOperator:
    def test_global_stats_match_fixture_aggregation(self, spark):
        """The distributed reduce equals the single-process aggregation —
        over a small synthetic table written at TWO different partition
        layouts (order independence through the real shuffle)."""
        from datasmith_spark import datagen
        from datasmith_spark.operators.audio_ops import global_feature_stats

        fx = pd.read_parquet(FIXTURE)
        want = (
            fx[fx.clip_id.isin({f"clip_{i:012d}" for i in range(200)})]
            .groupby("bin", sort=True)
            .agg(
                n_clips=("clip_id", "count"), n_frames=("n_frames", "sum"),
                sum_q=("sum_q", "sum"), sumsq_q=("sumsq_q", "sum"),
            )
        )
        for parts in (3, 11):
            path = f"{REPO}/.data/qstats_test/n200_p{parts}"
            datagen.clips_df(spark, 200, n_partitions=parts).write.mode(
                "overwrite"
            ).parquet(path)
            got = (
                global_feature_stats(spark, path)
                .toPandas()
                .set_index("bin")
                .sort_index()
            )
            assert got.n_clips.tolist() == want.n_clips.tolist()
            assert got.n_frames.tolist() == want.n_frames.tolist()
            assert got.sum_q.tolist() == want.sum_q.tolist()
            assert got.sumsq_q.tolist() == want.sumsq_q.tolist()
