"""Speed/pitch-shift-robust near-dup (q159): kernel invariances, the
integer rate-hypothesis verify, Spark recall of planted speed variants,
arbitrary-id composability, JVM-only verify plan, and fixture honesty."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.core.audio import encode
from datasmith_spark.core.resample import resample
from datasmith_spark.core.specsig import (
    SS_MAXK,
    SS_NFFT,
    SS_TOL,
    plant_speed,
    rate_hypothesis,
    speed_variant16,
    tone_peaks16,
)

from .conftest import REPO, write_rows


def _tones(freqs, secs=3.0, seed=11, noise=0.03):
    rng = np.random.default_rng(seed)
    t = np.arange(int(16000 * secs)) / 16000.0
    x = sum(w * np.sin(2 * np.pi * f * t) for f, w in freqs)
    return x + noise * rng.standard_normal(t.size)


def _rate_ok(hyp, num, den):
    """Recovered bin ratio ai/bj must equal den/num to bin tolerance
    (source bins = (den/num) * variant bins under speed factor num/den)."""
    return hyp is not None and abs(hyp[0] * num - den * hyp[1]) <= SS_TOL * num


class TestKernel:
    def test_peaks_locate_tones(self):
        x = _tones([(500.0, 0.6), (1300.0, 0.4), (2750.0, 0.2)])
        hz = [round(b * 16000 / SS_NFFT) for b in tone_peaks16(x)]
        assert hz == [500, 1301, 2750]

    def test_peaks_gain_invariant(self):
        x = _tones([(440.0, 0.5), (990.0, 0.3)])
        assert tone_peaks16(x) == tone_peaks16(0.1 * x) == tone_peaks16(3.0 * x)

    def test_silence_and_short(self):
        assert tone_peaks16(np.zeros(100)) == []
        assert tone_peaks16(np.zeros(2 * SS_NFFT)) == []

    def test_rate_recovered_across_factors(self):
        x = _tones([(430.0, 0.6), (1170.0, 0.4), (2210.0, 0.25)])
        pa = tone_peaks16(x)
        assert len(pa) == 3
        for num, den in ((9, 10), (19, 20), (21, 20), (11, 10), (5, 4), (4, 5)):
            y = resample(x, num, den)  # freqs scale by num/den
            hyp = rate_hypothesis(pa, tone_peaks16(y))
            assert _rate_ok(hyp, num, den), (num, den, hyp)

    def test_unrelated_tone_sets_rejected(self):
        """Three-tone sets with non-proportional ratios share no in-range
        hypothesis."""
        a = tone_peaks16(_tones([(400.0, 0.6), (1100.0, 0.4), (2300.0, 0.3)]))
        b = tone_peaks16(_tones([(430.0, 0.6), (1400.0, 0.4), (1900.0, 0.3)], seed=7))
        assert len(a) == len(b) == 3
        assert rate_hypothesis(a, b) is None

    def test_band_edge_exemption(self):
        """A tone whose sped-up image leaves the measurable band must not
        veto the match (rate-aware exemption, not a hard cut)."""
        x = _tones([(500.0, 0.6), (1400.0, 0.4), (7400.0, 0.3)])
        pa = tone_peaks16(x)
        assert len(pa) == 3
        y = resample(x, 11, 10)  # 7400 -> 8140 Hz > Nyquist: image vanishes
        pb = tone_peaks16(y)
        assert len(pb) == 2
        assert _rate_ok(rate_hypothesis(pa, pb), 11, 10)

    def test_planted_variant_full_chain(self):
        x = _tones([(520.0, 0.6), (1555.0, 0.4)])
        pa = tone_peaks16(x)
        num, den = plant_speed("any-id-at-all")
        pb = tone_peaks16(speed_variant16(x, "any-id-at-all"))
        assert _rate_ok(rate_hypothesis(pa, pb), num, den)

    def test_all_prior_lanes_lose_the_speed_variant(self):
        """The motivating gap: the SAME speed plant defeats the aligned
        fingerprints AND the constellation (every frequency and every dt
        scale), so q159 is a genuinely new robustness cell."""
        from collections import Counter

        from datasmith_spark.core.audio_fp import fp_keys
        from datasmith_spark.core.landmark import landmark_hashes16

        x = _tones([(430.0, 0.5), (1170.0, 0.35)], secs=3.0)
        y = speed_variant16(x, "gap-check")  # factor from SS_RATES
        a, b = set(fp_keys(x, 16000)), set(fp_keys(y, 16000))
        assert a and b and len(a & b) / len(a | b) < 0.1
        hs, dh = landmark_hashes16(x), landmark_hashes16(y)
        src: dict[int, list[int]] = {}
        for h, t in hs:
            src.setdefault(h, []).append(t)
        votes: Counter = Counter()
        for h, t in dh:
            for ts in src.get(h, []):
                votes[t - ts] += 1
        pooled = [v + votes.get(dt + 1, 0) for dt, v in votes.items()]
        assert max(pooled, default=0) < 24  # below the landmark verdict


class TestSparkRecall:
    @pytest.fixture(scope="class")
    def pairs(self, spark, tmp_path_factory):
        from datasmith_spark import datagen
        from datasmith_spark.operators.specsig import (
            speed_neardup_pairs,
            tone_signature_scan,
        )

        path = write_rows(tmp_path_factory.mktemp("clips"), datagen.clips_pdf(240))
        sigs = tone_signature_scan(spark, path, every=2, aug_every=40)
        return speed_neardup_pairs(sigs).toPandas(), sigs.toPandas()

    def test_in_scope_plants_recovered_with_rate(self, pairs):
        got, sigs = pairs
        k = dict(zip(sigs.clip_id, sigs.k))
        want = {
            (f"clip_{i:012d}", f"sp_{i:012d}")
            for i in range(0, 240, 40)
            if 2 <= k.get(f"clip_{i:012d}", 0) <= SS_MAXK
            and 2 <= k.get(f"sp_{i:012d}", 0) <= SS_MAXK
        }
        assert want, "no in-scope plants in the sample"
        found = {
            (a, b): (rn, rd)
            for a, b, rn, rd in zip(got.clip_a, got.clip_b, got.rate_num, got.rate_den)
        }
        for a, b in want:
            assert (a, b) in found, (a, b, found)
            num, den = plant_speed(a)
            assert _rate_ok(found[(a, b)], num, den), (a, found[(a, b)], (num, den))

    def test_columns_integer(self, pairs):
        got, _ = pairs
        for c in ("k_a", "k_b", "rate_num", "rate_den"):
            assert str(got[c].dtype) == "int32", (c, got[c].dtype)
        assert ((got.k_a >= 2) & (got.k_a <= SS_MAXK)).all()

    def test_verify_is_jvm_side_and_no_nested_loop(self, spark, tmp_path):
        from datasmith_spark.operators.specsig import (
            speed_neardup_pairs,
            tone_signature_scan,
        )

        pdf = pd.DataFrame(
            {
                "clip_id": ["x"],
                "bytes": [encode(_tones([(500.0, 0.5)]), "pcm16")],
                "sr_hz": [16000],
                "dur_ms": [3000],
                "codec": ["pcm16"],
                "transcript": [""],
            }
        )
        sigs = tone_signature_scan(spark, write_rows(tmp_path, pdf))
        plan = (
            speed_neardup_pairs(sigs)._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the verify is pure higher-order-function expressions: the only
        # Python stage is the signature mapInPandas scan itself
        assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") <= 2, plan

    def test_arbitrary_ids_composable(self, spark, tmp_path):
        from datasmith_spark.operators.specsig import (
            speed_neardup_pairs,
            tone_signature_scan,
        )

        x = _tones([(470.0, 0.6), (1240.0, 0.4)])
        y = speed_variant16(x, "s3://bucket/song.flac")
        pdf = pd.DataFrame(
            {
                "clip_id": ["s3://bucket/song.flac", "UUID-11aa", "plain"],
                "bytes": [
                    encode(x, "pcm16"),
                    encode(y, "pcm16"),
                    encode(_tones([(890.0, 0.5), (3111.0, 0.3)], seed=5), "pcm16"),
                ],
                "sr_hz": 16000,
                "dur_ms": 3000,
                "codec": "pcm16",
                "transcript": "",
            }
        )
        got = speed_neardup_pairs(
            tone_signature_scan(spark, write_rows(tmp_path, pdf))
        ).toPandas()
        found = {tuple(sorted((a, b))) for a, b in zip(got.clip_a, got.clip_b)}
        assert ("UUID-11aa", "s3://bucket/song.flac") in found
        assert all("plain" not in p for p in found)


class TestFixture:
    def test_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_sig_fixture as mas

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_sig_n4000.parquet")
        lo, hi = 480, 680
        fresh = mas.oracle_rows(range(lo, hi))
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"sp_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)]
        key = lambda df: sorted(
            (c, tuple(p), int(k)) for c, p, k in zip(df.clip_id, df.peaks, df.k)
        )
        assert key(sample) == key(fresh)

    def test_registry_has_q159(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q159_speed_robust_neardup" in QUERIES
        assert "q159_speed_robust_neardup" in ORACLE_SQL


class TestLaneComposition:
    def test_delay_plus_speed_combo_recovered_by_chaining(self):
        """A re-upload that is BOTH delayed and speed-shifted defeats every
        single lane's plant model, but the lanes compose: the tonal
        signature is delay-invariant (time-averaged spectrum), so q159
        recovers the RATE; resampling the probe by the recovered rate
        reduces the residual to a pure time shift, which the constellation
        lane then localizes at its offset bracket — the full two-stage
        robust-dedup chain."""
        from collections import Counter

        from datasmith_spark.core.audio import decode, encode
        from datasmith_spark.core.landmark import LM_HOP, landmark_hashes16
        from datasmith_spark.core.specsig import rate_hypothesis

        x = _tones([(470.0, 0.6), (1240.0, 0.4), (2630.0, 0.25)], secs=3.0)
        num, den, d = 21, 20, 777  # speed 21/20 AND a sub-hop delay
        y = resample(x, num, den)
        y = np.concatenate([np.zeros(d), 0.7 * y])
        y = decode(encode(y, "pcm16"), "pcm16")

        # stage 1: rate recovery from the delay-invariant signature
        pa, pb = tone_peaks16(x), tone_peaks16(y)
        hyp = rate_hypothesis(pa, pb)
        assert _rate_ok(hyp, num, den), hyp

        # stage 2: undo the recovered rate, then landmark-localize the shift
        # source bins = (ai/bj) * probe bins, so mapping the probe into the
        # source domain scales its frequencies by ai/bj: z[j] = y(j*ai/bj)
        ai, bj = hyp
        y_corr = resample(y, ai, bj)
        src: dict[int, list[int]] = {}
        for h, t in landmark_hashes16(x):
            src.setdefault(h, []).append(t)
        votes: Counter = Counter()
        for h, t in landmark_hashes16(y_corr):
            for ts in src.get(h, []):
                votes[t - ts] += 1
        pooled = {dt: v + votes.get(dt + 1, 0) for dt, v in votes.items()}
        best_dt, best_v = max(pooled.items(), key=lambda kv: (kv[1], -kv[0]))
        # the y-domain delay d lands at d*bj/ai samples in the corrected domain
        true_frames = d * bj / ai / LM_HOP
        assert best_v >= 24 and best_dt - 1.5 <= true_frames <= best_dt + 2.5, (
            best_dt,
            best_v,
            true_frames,
        )
