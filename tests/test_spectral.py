"""Spectral SNR / effective-bandwidth kernel + Spark operators (q46/q47)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.core.audio import encode
from datasmith_spark.core.spectral import (
    N_FFT,
    _floor_log2_ratio,
    avg_power_spectrum,
    bw_bin_to_hz,
    speaking_rate_keep,
    spectral_metrics,
)

from .conftest import REPO


def _tone(sr: int, secs: float, freq: float, amp: float = 0.5) -> np.ndarray:
    t = np.arange(int(sr * secs), dtype=np.float64) / sr
    return amp * np.sin(2 * np.pi * freq * t)


class TestSpectralKernel:
    def test_floor_log2_ratio_exact_edges(self):
        # exact powers of two land on the boundary, one ulp under drops
        for k in (-10, -1, 0, 1, 7, 40):
            assert _floor_log2_ratio(2.0**k, 1.0) == k
            assert _floor_log2_ratio(math.nextafter(2.0**k, 0.0), 1.0) == k - 1
        assert _floor_log2_ratio(3.0, 2.0) == 0
        assert _floor_log2_ratio(1.0, 3.0) == -2

    def test_peak_bin_matches_tone_frequency(self):
        sr = 16000
        spec = avg_power_spectrum(_tone(sr, 2.0, 2000.0))
        assert int(np.argmax(spec)) == round(2000.0 * N_FFT / sr)

    def test_clean_tone_keeps_noisy_tone_drops(self):
        sr = 16000
        clean = _tone(sr, 4.0, 3000.0)
        nb, nh, s, ok, bw, narrow = spectral_metrics(clean)
        assert nb == N_FFT // 2 + 1 and ok and not narrow
        rng = np.random.default_rng(11)
        noisy = 0.05 * clean + rng.standard_normal(clean.size)
        nb2, nh2, s2, ok2, bw2, narrow2 = spectral_metrics(noisy)
        assert not ok2 and not narrow2          # buried tone: snr drop
        # fully buried -> no bin clears the 8x-median floor at all
        assert nh2 == 0 and s2 is None

    def test_narrowband_upsample_flagged(self):
        # 300 Hz content at a 16 kHz nominal rate: bw << Nyquist/4
        sr = 16000
        nb, nh, s, ok, bw, narrow = spectral_metrics(_tone(sr, 3.0, 300.0))
        assert narrow and bw is not None
        assert bw_bin_to_hz(bw, sr) < sr // 8
        # a mid-band tone at the same nominal rate is not narrowband
        nb, nh, s, ok, bw, narrow = spectral_metrics(_tone(16000, 3.0, 5000.0))
        assert not narrow

    def test_degenerate_inputs(self):
        assert spectral_metrics(None) == (0, 0, None, False, None, False)
        assert spectral_metrics(np.zeros(N_FFT - 1)) == (0, 0, None, False, None, False)
        # all-zero clip: no energy anywhere -> nothing to keep
        nb, nh, s, ok, bw, narrow = spectral_metrics(np.zeros(4 * N_FFT))
        assert (s, ok, bw, narrow) == (None, False, None, False)

    def test_snr_is_amplitude_invariant(self):
        sr = 8000
        rng = np.random.default_rng(3)
        x = _tone(sr, 2.0, 1000.0) + 0.01 * rng.standard_normal(2 * sr)
        a = spectral_metrics(x)
        b = spectral_metrics(0.125 * x)  # exact power-of-two scale
        assert a == b

    def test_speaking_rate_window_edges(self):
        assert speaking_rate_keep(20, 10_000)          # exactly 2 cps
        assert not speaking_rate_keep(19, 10_000)
        assert speaking_rate_keep(400, 10_000)         # exactly 40 cps
        assert not speaking_rate_keep(401, 10_000)
        assert not speaking_rate_keep(100, None)
        assert not speaking_rate_keep(100, 0)
        assert not speaking_rate_keep(0, 10_000)


class TestSpectralSpark:
    @pytest.fixture(scope="class")
    def clips(self, spark):
        from datasmith_spark.datagen import clips_df

        return clips_df(spark, 120, n_partitions=4).cache()

    def test_matches_single_process(self, spark, clips):
        from datasmith_spark.core.audio import decode
        from datasmith_spark.operators.audio_ops import spectral_quality

        out = spectral_quality(clips).toPandas().set_index("clip_id").sort_index()
        src = clips.toPandas().set_index("clip_id").sort_index()
        assert len(out) == len(src) and out.ok.sum() > 100
        for cid, row in src.iterrows():
            sr = None if pd.isna(row.sr_hz) else int(row.sr_hz)
            pcm = decode(row.bytes, row.codec) if sr and sr > 0 else None
            nb, nh, s, ok_snr, bw, narrow = spectral_metrics(pcm)
            got = out.loc[cid]
            assert (int(got.n_bins), int(got.n_harmonic)) == (nb, nh), cid
            assert (None if pd.isna(got.snr_log2) else int(got.snr_log2)) == s, cid
            assert bool(got.snr_ok) == ok_snr and bool(got.narrowband) == narrow, cid
            want_bw = bw_bin_to_hz(bw, sr) if pcm is not None else None
            assert (None if pd.isna(got.bw_hz) else int(got.bw_hz)) == want_bw, cid
            assert bool(got.keep) == ((pcm is not None) and ok_snr and not narrow)

    def test_rate_lane_arbitrary_ids_and_transcripts(self, spark):
        from datasmith_spark.operators.audio_ops import speaking_rate

        sr = 8000
        voiced = encode(_tone(sr, 10.0, 440.0), "pcm16")  # 10 s active
        rows = [
            ("s3://x/ok clip.wav", voiced, sr, 10_000, "pcm16", "x" * 120),  # 12 cps
            ("too-thin", voiced, sr, 10_000, "pcm16", "hi"),                 # 0.2 cps
            ("impossible", voiced, sr, 10_000, "pcm16", "y" * 900),          # 90 cps
            ("ws-only", voiced, sr, 10_000, "pcm16", "   "),
            ("no-audio", b"\x00", sr, 10, "pcm16", "hello there friend"),
        ]
        df = spark.createDataFrame(
            rows,
            "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
        )
        out = speaking_rate(df).toPandas().set_index("clip_id")
        assert bool(out.loc["s3://x/ok clip.wav"].rate_keep)
        assert not bool(out.loc["too-thin"].rate_keep)
        assert not bool(out.loc["impossible"].rate_keep)
        assert not bool(out.loc["ws-only"].rate_keep)
        assert int(out.loc["ws-only"].n_chars) == 0
        got = out.loc["no-audio"]
        assert not bool(got.ok) and pd.isna(got.active_ms) and not bool(got.rate_keep)

    def test_batch_size_invariance(self, spark, clips):
        from datasmith_spark.operators.audio_ops import spectral_quality

        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "7")
            a = spectral_quality(clips).toPandas().sort_values("clip_id").reset_index(drop=True)
            spark.conf.set(key, "1000")
            b = spectral_quality(clips).toPandas().sort_values("clip_id").reset_index(drop=True)
        finally:
            spark.conf.set(key, old)
        pd.testing.assert_frame_equal(a, b)

    def test_quality_fixture_is_honest(self):
        """The committed q46/q47 fixture must equal a fresh regeneration on a
        deterministic row sample (same protocol as the q41 fixture)."""
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_quality_fixture as mqf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_quality_n4000.parquet")
        assert len(fix) == 4000
        # each rule actually splits the corpus
        assert 0 < fix.snr_ok.sum() < 4000
        assert 0 < fix.rate_keep.sum() < 4000
        assert fix.narrowband.sum() > 0
        idx = list(range(0, 4000, 29))
        fresh = mqf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        for c in fresh.columns:
            a = sample[c].astype("object").where(sample[c].notna(), "<null>").astype(str)
            b = fresh[c].astype("object").where(fresh[c].notna(), "<null>").astype(str)
            assert (a == b).all(), c

    def test_registry_has_spectral_queries(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        for q in ("q46_spectral_quality", "q47_speaking_rate"):
            assert q in QUERIES and q in ORACLE_SQL


class TestFusedQuality:
    def test_fused_matches_per_lane_ops(self, spark):
        """audio_quality (one decode) == vad_clips + spectral_quality +
        speaking_rate run separately, column for column."""
        import pandas as pd

        from datasmith_spark.datagen import clips_df
        from datasmith_spark.operators.audio_ops import (
            audio_quality,
            spectral_quality,
            speaking_rate,
            vad_clips,
        )

        clips = clips_df(spark, 100, n_partitions=4).cache()
        fused = audio_quality(clips).toPandas().set_index("clip_id").sort_index()
        vad = vad_clips(clips).toPandas().set_index("clip_id").sort_index()
        spec = spectral_quality(clips).toPandas().set_index("clip_id").sort_index()
        rate = speaking_rate(clips).toPandas().set_index("clip_id").sort_index()

        def eq(a, b, name):
            a = a.astype("object").where(a.notna(), "<null>").astype(str)
            b = b.astype("object").where(b.notna(), "<null>").astype(str)
            assert (a == b).all(), name

        for c in ("n_samples", "n_frames", "n_active", "n_clipped"):
            eq(fused[c], vad[c], c)
        eq(fused["vad_keep"], vad["keep"], "vad_keep")
        for c in ("n_harmonic", "snr_log2", "snr_ok", "bw_hz", "narrowband"):
            eq(fused[c], spec[c], c)
        for c in ("n_chars", "active_ms", "rate_keep"):
            eq(fused[c], rate[c], c)
        want_keep = vad["keep"] & spec["keep"] & rate["rate_keep"]
        eq(fused["keep"], want_keep, "keep")
        clips.unpersist()


class TestNormalize:
    def test_peak_lands_on_target(self, spark):
        from datasmith_spark.core.audio import decode
        from datasmith_spark.operators.audio_ops import (
            NORM_TARGET_PEAK,
            normalize_clips,
        )

        sr = 8000
        rows = [
            ("quiet", encode(_tone(sr, 1.0, 440.0, amp=0.05), "pcm16"), sr, 1000, "pcm16", "t"),
            ("loud", encode(_tone(sr, 1.0, 440.0, amp=0.95), "pcm16"), sr, 1000, "pcm16", "t"),
            ("mulaw", encode(_tone(sr, 1.0, 440.0, amp=0.3), "mulaw"), sr, 1000, "mulaw", "t"),
            ("silent", encode(np.zeros(sr), "pcm16"), sr, 1000, "pcm16", "s"),
            ("broken", b"\x00", sr, 10, "pcm16", "b"),
        ]
        df = spark.createDataFrame(
            rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string"
        )
        out = normalize_clips(df).toPandas().set_index("clip_id")
        src = {r[0]: r[1] for r in rows}
        for cid, codec in (("quiet", "pcm16"), ("loud", "pcm16"), ("mulaw", "mulaw")):
            got = out.loc[cid]
            assert bool(got.normalized), cid
            peak = float(np.max(np.abs(decode(bytes(got.bytes), codec))))
            # re-encode quantization bounds the landed peak (mulaw is coarse)
            tol = 0.002 if codec == "pcm16" else 0.04
            assert abs(peak - NORM_TARGET_PEAK) < tol, (cid, peak)
        for cid in ("silent", "broken"):
            assert not bool(out.loc[cid].normalized)
            assert bytes(out.loc[cid].bytes) == src[cid]

    def test_target_is_exact_binary_fraction(self):
        from datasmith_spark.operators.audio_ops import NORM_TARGET_PEAK

        # 57/64 is exactly representable: the portability contract
        assert NORM_TARGET_PEAK == 57.0 / 64.0
        assert NORM_TARGET_PEAK.hex() == "0x1.c800000000000p-1"

    def test_digest_mode_matches_bytes_mode(self, spark):
        import hashlib

        from datasmith_spark.datagen import clips_df
        from datasmith_spark.operators.audio_ops import normalize_clips

        clips = clips_df(spark, 60, n_partitions=2)
        full = normalize_clips(clips).toPandas().set_index("clip_id")
        dig = normalize_clips(clips, digest=True).toPandas().set_index("clip_id")
        assert len(full) == len(dig) == 60
        for cid, row in full.iterrows():
            assert dig.loc[cid].payload_md5 == hashlib.md5(bytes(row.bytes)).hexdigest()
            assert bool(dig.loc[cid].normalized) == bool(row.normalized)

    def test_norm_fixture_is_honest(self):
        import sys

        import pandas as pd

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_norm_fixture as mnf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_norm_n4000.parquet")
        assert len(fix) == 4000
        assert 0 < fix.normalized.sum() < 4000
        idx = list(range(0, 4000, 29))
        fresh = mnf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        for c in fresh.columns:
            a = sample[c].astype("object").where(sample[c].notna(), "<null>").astype(str)
            b = fresh[c].astype("object").where(fresh[c].notna(), "<null>").astype(str)
            assert (a == b).all(), c

    def test_registry(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q50_normalize_loudness" in QUERIES
        assert "q50_normalize_loudness" in ORACLE_SQL


def test_quality_gate_composes_with_label_pipeline(spark):
    """The README composition: audio_quality gate -> left-semi -> the
    reference label chain; survivors' labels equal the ungated run's labels
    for the same clips (gating composes, it does not perturb)."""
    from datasmith_spark.datagen import clips_df
    from datasmith_spark.operators.audio_ops import audio_quality
    from datasmith_spark.pipeline import label_clips

    clips = clips_df(spark, 80, n_partitions=4).cache()
    q = audio_quality(clips)
    good = clips.join(q.filter("keep").select("clip_id"), "clip_id", "left_semi")
    gated = label_clips(good, n_parts=8).toPandas().set_index("clip_id").sort_index()
    full = label_clips(clips, n_parts=8).toPandas().set_index("clip_id").sort_index()
    assert 0 < len(gated) < len(full)
    sub = full.loc[gated.index]
    for c in ("keep", "drop_stage", "lang", "scrubbed_transcript"):
        a = gated[c].astype("object").where(gated[c].notna(), "<null>").astype(str)
        b = sub[c].astype("object").where(sub[c].notna(), "<null>").astype(str)
        assert (a == b).all(), c
    clips.unpersist()
