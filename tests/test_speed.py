"""Speed-perturbation augmentation (operators/audio_ops.py q54 lane)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.core.audio import decode, encode
from datasmith_spark.operators.audio_ops import SPEED_FACTORS, _speed_pdf

from .conftest import REPO


def _tone_pdf(sr: int = 16000, f: float = 440.0, secs: float = 2.0) -> pd.DataFrame:
    t = np.arange(int(sr * secs)) / sr
    x = 0.5 * np.sin(2 * np.pi * f * t)
    return pd.DataFrame(
        {
            "clip_id": ["tone"],
            "bytes": [encode(x, "pcm16")],
            "sr_hz": [sr],
            "dur_ms": [int(secs * 1000)],
            "codec": ["pcm16"],
            "transcript": ["t"],
        }
    )


class TestSpeedKernel:
    def test_duration_and_pitch_scale_by_factor(self):
        sr, f0 = 16000, 440.0
        out = _speed_pdf(_tone_pdf(sr, f0), SPEED_FACTORS, "pcm16", False)
        assert list(zip(out.f_num, out.f_den)) == list(SPEED_FACTORS)
        n_in = 2 * sr
        for _, r in out.iterrows():
            y = decode(r["bytes"], "pcm16")
            assert y.size == round(n_in * r.f_den / r.f_num)
            spec = np.abs(np.fft.rfft(y))
            peak_hz = np.argmax(spec) * sr / y.size
            assert abs(peak_hz - f0 * r.f_num / r.f_den) < 2.0
            assert r.dur_ms == int(y.size * 1000) // sr

    def test_identity_factor_is_plain_reencode(self):
        pdf = _tone_pdf()
        out = _speed_pdf(pdf, ((10, 10),), "pcm16", False)
        x = decode(pdf["bytes"].iloc[0], "pcm16")
        assert out["bytes"].iloc[0] == encode(x, "pcm16")

    def test_undecodable_passthrough_per_factor(self):
        pdf = pd.DataFrame(
            {
                "clip_id": ["bad"],
                "bytes": [b"\x01\x02\x03"],
                "sr_hz": [16000],
                "dur_ms": [100],
                "codec": ["float32"],
                "transcript": ["t"],
            }
        )
        out = _speed_pdf(pdf, SPEED_FACTORS, "pcm16", False)
        assert len(out) == 3
        assert (~out.sp_ok).all()
        assert all(b == b"\x01\x02\x03" for b in out["bytes"])
        assert (out.dur_ms == 100).all()

    def test_digest_mode_matches_bytes_mode(self):
        pdf = _tone_pdf()
        by = _speed_pdf(pdf, SPEED_FACTORS, "pcm16", False)
        dg = _speed_pdf(pdf, SPEED_FACTORS, "pcm16", True)
        assert list(dg.payload_md5) == [
            hashlib.md5(b).hexdigest() for b in by["bytes"]
        ]

    def test_batch_invariance(self):
        pdfs = [_tone_pdf(f=300.0 + 37 * i) for i in range(4)]
        for i, p in enumerate(pdfs):
            p["clip_id"] = [f"c{i}"]
        whole = _speed_pdf(pd.concat(pdfs, ignore_index=True), SPEED_FACTORS, "pcm16", True)
        parts = pd.concat(
            [_speed_pdf(p, SPEED_FACTORS, "pcm16", True) for p in pdfs],
            ignore_index=True,
        )
        assert list(whole.payload_md5) == list(parts.payload_md5)


class TestSpeedSpark:
    @pytest.fixture(scope="class")
    def clips(self, spark):
        from datasmith_spark.datagen import clips_df

        return clips_df(spark, 120, n_partitions=4).cache()

    def test_spark_matches_kernel(self, spark, clips):
        from datasmith_spark.operators.audio_ops import speed_perturb_clips

        src = clips.toPandas()
        got = (
            speed_perturb_clips(clips, digest=True)
            .toPandas()
            .sort_values(["clip_id", "f_num"])
            .reset_index(drop=True)
        )
        want = (
            _speed_pdf(src, SPEED_FACTORS, "pcm16", True)
            .sort_values(["clip_id", "f_num"])
            .reset_index(drop=True)
        )
        assert len(got) == 3 * len(src)
        assert list(got.payload_md5) == list(want.payload_md5)
        assert list(got.dur_ms.fillna(-1)) == list(want.dur_ms.fillna(-1))

    def test_arbitrary_clip_ids(self, spark):
        from datasmith_spark.operators.audio_ops import speed_perturb_clips

        sr = 16000
        x = 0.4 * np.sin(2 * np.pi * 500 * np.arange(sr) / sr)
        rows = [("s3://bucket/real file (1).wav", encode(x, "pcm16"), sr, 1000, "pcm16", "t")]
        df = spark.createDataFrame(
            rows,
            "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
        )
        out = speed_perturb_clips(df).toPandas()
        assert len(out) == 3 and out.sp_ok.all()

    def test_speed_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_speed_fixture as msf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_speed_n4000.parquet")
        assert len(fix) == 12000
        idx = list(range(0, 4000, 31))
        fresh = msf.oracle_rows(idx).reset_index(drop=True)
        rows = sorted(i * 3 + j for i in idx for j in range(3))
        sample = fix.iloc[rows].reset_index(drop=True)
        for c in fresh.columns:
            a = sample[c].astype("object").where(sample[c].notna(), "<null>").astype(str)
            b = fresh[c].astype("object").where(fresh[c].notna(), "<null>").astype(str)
            assert (a == b).all(), c


class TestSegmentKernel:
    def _pdf(self, sr=16000, secs=3.0, pad=0.5):
        rng = np.random.default_rng(5)
        n = int(sr * secs)
        x = 0.4 * np.sin(2 * np.pi * 350 * np.arange(n) / sr)
        x = np.concatenate([np.zeros(int(sr * pad)), x, np.zeros(int(sr * pad))])
        return pd.DataFrame(
            {
                "clip_id": ["c"],
                "bytes": [encode(x, "pcm16")],
                "sr_hz": [sr],
                "dur_ms": [int((secs + 2 * pad) * 1000)],
                "codec": ["pcm16"],
            }
        ), x

    def test_windows_tile_active_span(self):
        from datasmith_spark.operators.audio_ops import _segment_pdf

        pdf, x = self._pdf()
        out = _segment_pdf(pdf, 1000, 500, 20, -40.0, False)
        # 3 s active audio with 0.5 s silence padding: 1 s windows every
        # 0.5 s -> 5 full windows
        assert list(out.seg_idx) == list(range(5))
        assert (out.dur_ms == 1000).all() and out.ok.all()
        # starts advance by hop, begin at the VAD trim point (~500 ms)
        starts = list(out.start_ms)
        assert all(b - a == 500 for a, b in zip(starts, starts[1:]))
        assert abs(starts[0] - 500) <= 40  # frame-quantized trim point
        # byte slices decode to exactly 1 s of samples
        sr = 16000
        for _, r in out.iterrows():
            assert len(r["bytes"]) == 2 * sr  # pcm16 itemsize * 1 s

    def test_short_clip_kept_whole(self):
        from datasmith_spark.operators.audio_ops import _segment_pdf

        sr = 16000
        x = 0.4 * np.sin(2 * np.pi * 350 * np.arange(int(0.4 * sr)) / sr)
        pdf = pd.DataFrame(
            {
                "clip_id": ["s"], "bytes": [encode(x, "pcm16")], "sr_hz": [sr],
                "dur_ms": [400], "codec": ["pcm16"],
            }
        )
        out = _segment_pdf(pdf, 1000, 500, 20, -40.0, False)
        assert len(out) == 1 and out.ok.iloc[0] and out.seg_idx.iloc[0] == 0
        assert out.dur_ms.iloc[0] <= 400

    def test_silent_and_undecodable_passthrough(self):
        from datasmith_spark.operators.audio_ops import _segment_pdf

        sr = 16000
        pdf = pd.DataFrame(
            {
                "clip_id": ["silent", "bad"],
                "bytes": [encode(np.zeros(sr), "pcm16"), b"\x00\x01"],
                "sr_hz": [sr, sr],
                "dur_ms": [1000, 50],
                "codec": ["pcm16", "float32"],
            }
        )
        out = _segment_pdf(pdf, 1000, 500, 20, -40.0, False)
        assert len(out) == 2 and (~out.ok).all()
        assert out.seg_idx.isna().all()

    def test_mulaw_slices_are_lossless_bytes(self):
        from datasmith_spark.operators.audio_ops import _segment_pdf

        sr = 8000
        x = 0.4 * np.sin(2 * np.pi * 300 * np.arange(3 * sr) / sr)
        buf = encode(x, "mulaw")
        pdf = pd.DataFrame(
            {
                "clip_id": ["m"], "bytes": [buf], "sr_hz": [sr],
                "dur_ms": [3000], "codec": ["mulaw"],
            }
        )
        out = _segment_pdf(pdf, 1000, 500, 20, -40.0, False)
        for _, r in out.iterrows():
            s = r.start_ms * sr // 1000
            assert r["bytes"] == buf[s : s + sr]  # mulaw itemsize 1

    def test_segment_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_segment_fixture as msg

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_segment_n4000.parquet")
        idx = list(range(0, 4000, 41))
        fresh = msg.oracle_rows(idx).reset_index(drop=True)
        sample = (
            fix[fix.clip_id.isin(set(fresh.clip_id))]
            .sort_values(["clip_id", "seg_idx"], na_position="first")
            .reset_index(drop=True)
        )
        fresh = fresh.sort_values(
            ["clip_id", "seg_idx"], na_position="first"
        ).reset_index(drop=True)
        assert len(sample) == len(fresh)
        for c in fresh.columns:
            a = sample[c].astype("object").where(sample[c].notna(), "<null>").astype(str)
            b = fresh[c].astype("object").where(fresh[c].notna(), "<null>").astype(str)
            assert (a == b).all(), c

    def test_spark_matches_kernel(self, spark):
        from datasmith_spark.datagen import clips_df
        from datasmith_spark.operators.audio_ops import _segment_pdf, segment_clips

        clips = clips_df(spark, 80, n_partitions=4)
        got = (
            segment_clips(clips, digest=True)
            .toPandas()
            .sort_values(["clip_id", "seg_idx"], na_position="first")
            .reset_index(drop=True)
        )
        want = (
            _segment_pdf(
                clips.toPandas(), 1000, 500, 20, -40.0, True
            )
            .sort_values(["clip_id", "seg_idx"], na_position="first")
            .reset_index(drop=True)
        )
        assert list(got.payload_md5) == list(want.payload_md5)


class TestCmvn:
    def test_zero_mean_unit_var_per_band(self):
        from datasmith_spark.core.resample import cmvn, logmel

        sr = 16000
        rng = np.random.default_rng(3)
        x = 0.3 * rng.standard_normal(3 * sr)
        m = cmvn(logmel(x, sr))
        assert m.shape[0] > 1
        assert np.allclose(m.mean(axis=0), 0.0, atol=1e-12)
        assert np.allclose(m.var(axis=0), 1.0, atol=1e-4)

    def test_constant_band_is_exact_zero(self):
        from datasmith_spark.core.resample import cmvn

        f = np.tile(np.array([[2.5, -1.0]]), (7, 1))
        f[:, 1] = np.arange(7)
        out = cmvn(f)
        assert np.all(out[:, 0] == 0.0)
        assert abs(out[:, 1].mean()) < 1e-12

    def test_gain_invariance_of_shape(self):
        # cmvn of (a*x + b) per band == cmvn of x (affine invariance)
        from datasmith_spark.core.resample import cmvn

        rng = np.random.default_rng(9)
        f = rng.standard_normal((50, 4))
        g = 3.0 * f + 7.0
        a, b = cmvn(f), cmvn(g)
        assert np.allclose(a, b, atol=1e-9)

    def test_spark_matches_kernel_and_fixture_honest(self, spark):
        import sys

        from datasmith_spark.datagen import clips_df
        from datasmith_spark.operators.audio_ops import _cmvn_pdf, cmvn_features

        clips = clips_df(spark, 80, n_partitions=4)
        got = (
            cmvn_features(clips, digest=True)
            .toPandas()
            .sort_values("clip_id")
            .reset_index(drop=True)
        )
        want = (
            _cmvn_pdf(clips.toPandas(), 512, 256, 40, True)
            .sort_values("clip_id")
            .reset_index(drop=True)
        )
        assert list(got.feats_md5) == list(want.feats_md5)

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_cmvn_fixture as mcf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_cmvn_n4000.parquet")
        idx = list(range(0, 4000, 43))
        fresh = mcf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        assert list(sample.feats_md5) == list(fresh.feats_md5)


class TestSpecAugment:
    def test_masks_are_deterministic_and_bounded(self):
        from datasmith_spark.core.resample import spec_augment

        f = np.ones((200, 40))
        a = spec_augment(f, "clip_1")
        b = spec_augment(f, "clip_1")
        assert (a == b).all()
        # different key -> different mask placement (overwhelmingly likely)
        c = spec_augment(f, "clip_2")
        assert not (a == c).all()
        # masked fraction bounded: 2 freq masks <= 8/40 each, 2 time <= 10% each
        masked = (a == 0.0).mean()
        assert 0.0 <= masked <= 2 * 8 / 40 + 2 * 0.1 + 0.05

    def test_mask_shape_is_rows_and_columns(self):
        from datasmith_spark.core.resample import spec_augment

        f = np.ones((100, 40))
        out = spec_augment(f, "clip_11")
        zero_cols = np.where((out == 0.0).all(axis=0))[0]
        zero_rows = np.where((out == 0.0).all(axis=1))[0]
        # any fully-zero column range and row range must be contiguous runs
        if zero_cols.size:
            runs = np.split(zero_cols, np.where(np.diff(zero_cols) != 1)[0] + 1)
            assert len(runs) <= 2
        if zero_rows.size:
            runs = np.split(zero_rows, np.where(np.diff(zero_rows) != 1)[0] + 1)
            assert len(runs) <= 2

    def test_empty_input(self):
        from datasmith_spark.core.resample import spec_augment

        assert spec_augment(np.zeros((0, 40)), "x").shape == (0, 40)

    def test_spark_matches_kernel_and_fixture_honest(self, spark):
        import sys

        from datasmith_spark.datagen import clips_df
        from datasmith_spark.operators.audio_ops import _specaug_pdf, specaug_features

        clips = clips_df(spark, 80, n_partitions=4)
        got = (
            specaug_features(clips, digest=True)
            .toPandas()
            .sort_values("clip_id")
            .reset_index(drop=True)
        )
        want = (
            _specaug_pdf(clips.toPandas(), 512, 256, 40, True)
            .sort_values("clip_id")
            .reset_index(drop=True)
        )
        assert list(got.feats_md5) == list(want.feats_md5)

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_specaug_fixture as msa

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_specaug_n4000.parquet")
        idx = list(range(0, 4000, 47))
        fresh = msa.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        assert list(sample.feats_md5) == list(fresh.feats_md5)


class TestNoiseAugment:
    def test_snr_is_exact_and_deterministic(self):
        from datasmith_spark.core.audio import _sumsq_tree
        from datasmith_spark.core.resample import add_noise

        sr = 16000
        x = 0.5 * np.sin(2 * np.pi * 440 * np.arange(2 * sr) / sr)
        y = add_noise(x, "clip_a", snr_db=10)
        noise = y - x
        snr = 10 * np.log10(_sumsq_tree(x) / _sumsq_tree(noise))
        assert abs(snr - 10.0) < 1e-9
        assert np.array_equal(add_noise(x, "clip_a", snr_db=10), y)
        # a different key gives a different stream
        assert not np.array_equal(add_noise(x, "clip_b", snr_db=10), y)

    def test_silent_and_empty_return_none(self):
        from datasmith_spark.core.resample import add_noise

        assert add_noise(np.zeros(100), "k") is None
        assert add_noise(np.zeros(0), "k") is None

    def test_snr_multiples_of_ten_only(self):
        from datasmith_spark.core.resample import add_noise

        with pytest.raises(ValueError):
            add_noise(np.ones(10), "k", snr_db=15)

    def test_spark_matches_kernel_and_fixture_honest(self, spark):
        import sys

        from datasmith_spark.datagen import clips_df
        from datasmith_spark.operators.audio_ops import _noise_pdf, noise_aug_clips

        clips = clips_df(spark, 80, n_partitions=4)
        got = (
            noise_aug_clips(clips, digest=True)
            .toPandas()
            .sort_values("clip_id")
            .reset_index(drop=True)
        )
        want = (
            _noise_pdf(clips.toPandas(), 10, True)
            .sort_values("clip_id")
            .reset_index(drop=True)
        )
        assert list(got.payload_md5) == list(want.payload_md5)
        assert list(got.augmented) == list(want.augmented)

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_noise_fixture as mnf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_noise_n4000.parquet")
        idx = list(range(0, 4000, 53))
        fresh = mnf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        assert list(sample.payload_md5) == list(fresh.payload_md5)


class TestTempoPerturb:
    def test_pitch_preserved_duration_scaled(self):
        from datasmith_spark.core.resample import wsola

        sr, f0 = 16000, 440.0
        x = 0.5 * np.sin(2 * np.pi * f0 * np.arange(2 * sr) / sr)
        for num, den in ((9, 10), (11, 10)):
            y = wsola(x, num, den)
            assert abs(y.size - round(x.size * den / num)) <= 512
            spec = np.abs(np.fft.rfft(y * np.hanning(y.size)))
            peak = spec.argmax() * sr / y.size
            assert abs(peak - f0) < 5.0  # resampling would give f0*num/den

    def test_short_clip_passthrough(self):
        from datasmith_spark.operators.audio_ops import _tempo_pdf, TEMPO_FACTORS

        sr = 16000
        pdf = pd.DataFrame(
            {
                "clip_id": ["s"],
                "bytes": [encode(0.3 * np.ones(600), "pcm16")],
                "sr_hz": [sr],
                "dur_ms": [37],
                "codec": ["pcm16"],
                "transcript": ["t"],
            }
        )
        out = _tempo_pdf(pdf, TEMPO_FACTORS, "pcm16", False)
        assert len(out) == 2 and (~out.tp_ok).all()
        assert all(b == pdf["bytes"].iloc[0] for b in out["bytes"])

    def test_determinism_and_batch_invariance(self):
        from datasmith_spark.operators.audio_ops import _tempo_pdf, TEMPO_FACTORS

        pdfs = [_tone_pdf(f=290.0 + 41 * i) for i in range(3)]
        for i, p in enumerate(pdfs):
            p["clip_id"] = [f"c{i}"]
        whole = _tempo_pdf(pd.concat(pdfs, ignore_index=True), TEMPO_FACTORS, "pcm16", True)
        parts = pd.concat(
            [_tempo_pdf(p, TEMPO_FACTORS, "pcm16", True) for p in pdfs],
            ignore_index=True,
        )
        assert list(whole.payload_md5) == list(parts.payload_md5)

    def test_spark_matches_kernel_and_fixture_honest(self, spark):
        import sys

        from datasmith_spark.datagen import clips_df
        from datasmith_spark.operators.audio_ops import (
            TEMPO_FACTORS,
            _tempo_pdf,
            tempo_perturb_clips,
        )

        clips = clips_df(spark, 60, n_partitions=4)
        got = (
            tempo_perturb_clips(clips, digest=True)
            .toPandas()
            .sort_values(["clip_id", "f_num"])
            .reset_index(drop=True)
        )
        want = (
            _tempo_pdf(clips.toPandas(), TEMPO_FACTORS, "pcm16", True)
            .sort_values(["clip_id", "f_num"])
            .reset_index(drop=True)
        )
        assert list(got.payload_md5) == list(want.payload_md5)

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_tempo_fixture as mtf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_tempo_n4000.parquet")
        idx = list(range(0, 4000, 59))
        fresh = mtf.oracle_rows(idx).reset_index(drop=True)
        rows = sorted(i * 2 + j for i in idx for j in range(2))
        sample = fix.iloc[rows].reset_index(drop=True)
        assert list(sample.payload_md5) == list(fresh.payload_md5)


class TestReverbAugment:
    """q71: RIR convolution — tail energy appears, determinism, per-key
    independence, passthrough contract, Spark==kernel, fixture honesty."""

    def _imp(self, sr=16000, n=16000):
        x = np.zeros(n)
        x[100] = 0.9
        return x

    def test_impulse_grows_a_tail(self):
        from datasmith_spark.core.resample import reverb

        y = reverb(self._imp(), "clip_1", 16000)
        assert y is not None and y.shape == (16000,)
        # energy well after the impulse that the dry signal does not have
        assert np.abs(y[500:4000]).max() > 1e-3
        assert np.abs(y).max() <= 1.0  # clipped to legal range

    def test_deterministic_and_per_key(self):
        from datasmith_spark.core.resample import reverb

        x = self._imp()
        a = reverb(x, "k1", 16000)
        assert np.array_equal(a, reverb(x, "k1", 16000))
        assert not np.array_equal(a, reverb(x, "k2", 16000))

    def test_passthrough_contract(self):
        from datasmith_spark.core.resample import reverb

        assert reverb(np.zeros(0), "k", 16000) is None
        assert reverb(np.zeros(4000), "k", 16000) is None
        assert reverb(self._imp(), "k", 0) is None

    def test_spark_matches_kernel_arbitrary_ids(self, spark):
        import hashlib

        import pandas as pd

        from datasmith_spark.core.audio import decode, encode
        from datasmith_spark.core.resample import reverb
        from datasmith_spark.operators.audio_ops import reverb_clips

        rng = np.random.default_rng(81)
        rows = []
        for i, cid in enumerate(["s3://b/a.wav", "re-upload", "silent", "broken"]):
            if cid == "silent":
                pcm = np.zeros(8000)
            else:
                pcm = np.clip(rng.normal(0, 0.3, 8000), -1, 1)
            rows.append((cid, encode(pcm, "pcm16"), 16000, 500, "pcm16", ""))
        pdf = pd.DataFrame(
            rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
        )
        pdf.loc[3, "bytes"] = b"x"  # undecodable (odd length for pcm16)
        out = {
            r["clip_id"]: r
            for r in reverb_clips(spark.createDataFrame(pdf), digest=True).collect()
        }
        for cid, buf, sr, _, codec, _ in rows:
            if cid == "broken":
                buf = b"x"
            pcm = decode(buf, codec)
            y = reverb(pcm, cid, sr) if pcm is not None else None
            want = buf if y is None else encode(y, codec)
            assert out[cid]["augmented"] == (y is not None), cid
            assert out[cid]["payload_md5"] == hashlib.md5(want).hexdigest(), cid
        assert not out["silent"]["augmented"] and not out["broken"]["augmented"]

    def test_fixture_honesty(self):
        import pandas as pd

        from scripts.make_audio_reverb_fixture import oracle_rows

        fx = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_reverb_n4000.parquet")
        regen = oracle_rows(range(0, 120))
        sub = fx.iloc[:120].reset_index(drop=True)
        pd.testing.assert_frame_equal(sub, regen)


class TestTranscode:
    """q78 codec normalization: target-codec byte-passthrough, lossy-codec
    requantization to pcm16, undecodable flag-not-crash, Spark==kernel,
    fixture honesty."""

    def test_passthrough_and_requantize(self, spark):
        import hashlib

        import pandas as pd

        from datasmith_spark.core.audio import decode, encode
        from datasmith_spark.operators.audio_ops import transcode_clips

        rng = np.random.default_rng(17)
        pcm = np.clip(rng.normal(0, 0.3, 4000), -1, 1)
        rows = [
            ("already", encode(pcm, "pcm16"), "pcm16"),
            ("mu", encode(pcm, "mulaw"), "mulaw"),
            ("f32", encode(pcm, "float32"), "float32"),
            ("broken", b"x", "pcm16"),
        ]
        pdf = pd.DataFrame(
            {
                "clip_id": [r[0] for r in rows],
                "bytes": [r[1] for r in rows],
                "sr_hz": 16000,
                "dur_ms": 250,
                "codec": [r[2] for r in rows],
                "transcript": "",
            }
        )
        out = {
            r["clip_id"]: r
            for r in transcode_clips(spark.createDataFrame(pdf), digest=True).collect()
        }
        # target codec: byte-identical passthrough, flagged untranscoded
        assert not out["already"]["transcoded"]
        assert out["already"]["payload_md5"] == hashlib.md5(rows[0][1]).hexdigest()
        # lossy source: decode -> pcm16 re-encode
        want_mu = encode(decode(rows[1][1], "mulaw"), "pcm16")
        assert out["mu"]["transcoded"] and out["mu"]["codec_out"] == "pcm16"
        assert out["mu"]["payload_md5"] == hashlib.md5(want_mu).hexdigest()
        # float32 -> pcm16 requantization
        want_f = encode(decode(rows[2][1], "float32"), "pcm16")
        assert out["f32"]["payload_md5"] == hashlib.md5(want_f).hexdigest()
        # undecodable: passthrough, flagged
        assert not out["broken"]["transcoded"]

    def test_fixture_honesty(self):
        import pandas as pd

        from scripts.make_audio_transcode_fixture import oracle_rows

        fx = pd.read_parquet(
            f"{REPO}/fixtures/oracle_audio_transcode_n4000.parquet"
        )
        regen = oracle_rows(range(0, 150))
        pd.testing.assert_frame_equal(fx.iloc[:150].reset_index(drop=True), regen)


class TestPitchPerturb:
    """q84: resample+WSOLA pitch shift — pitch moves, duration does not."""

    def test_pitch_moves_duration_preserved(self):
        from datasmith_spark.core.resample import pitch_shift

        sr, f0 = 16000, 440.0
        x = 0.5 * np.sin(2 * np.pi * f0 * np.arange(2 * sr) / sr)
        for num, den in ((9, 8), (8, 9)):
            y = pitch_shift(x, num, den)
            assert abs(y.size - x.size) <= 512  # duration preserved
            spec = np.abs(np.fft.rfft(y * np.hanning(y.size)))
            peak = spec.argmax() * sr / y.size
            assert abs(peak - f0 * num / den) < 5.0  # pitch scaled

    def test_short_clip_passthrough(self):
        from datasmith_spark.operators.audio_ops import PITCH_FACTORS, _pitch_pdf

        sr = 16000
        pdf = pd.DataFrame(
            {
                "clip_id": ["s"],
                "bytes": [encode(0.3 * np.ones(600), "pcm16")],
                "sr_hz": [sr],
                "dur_ms": [37],
                "codec": ["pcm16"],
                "transcript": ["t"],
            }
        )
        out = _pitch_pdf(pdf, PITCH_FACTORS, "pcm16", False)
        assert len(out) == 2 and (~out.ps_ok).all()
        assert all(b == pdf["bytes"].iloc[0] for b in out["bytes"])

    def test_determinism_and_batch_invariance(self):
        from datasmith_spark.operators.audio_ops import PITCH_FACTORS, _pitch_pdf

        pdfs = [_tone_pdf(f=290.0 + 41 * i) for i in range(3)]
        for i, p in enumerate(pdfs):
            p["clip_id"] = [f"c{i}"]
        whole = _pitch_pdf(pd.concat(pdfs, ignore_index=True), PITCH_FACTORS, "pcm16", True)
        parts = pd.concat(
            [_pitch_pdf(p, PITCH_FACTORS, "pcm16", True) for p in pdfs],
            ignore_index=True,
        )
        assert list(whole.payload_md5) == list(parts.payload_md5)

    def test_spark_matches_kernel_and_fixture_honest(self, spark):
        import sys

        from datasmith_spark.datagen import clips_df
        from datasmith_spark.operators.audio_ops import (
            PITCH_FACTORS,
            _pitch_pdf,
            pitch_perturb_clips,
        )

        clips = clips_df(spark, 60, n_partitions=4)
        got = (
            pitch_perturb_clips(clips, digest=True)
            .toPandas()
            .sort_values(["clip_id", "f_num"])
            .reset_index(drop=True)
        )
        want = (
            _pitch_pdf(clips.toPandas(), PITCH_FACTORS, "pcm16", True)
            .sort_values(["clip_id", "f_num"])
            .reset_index(drop=True)
        )
        assert list(got.payload_md5) == list(want.payload_md5)

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_pitch_fixture as mpf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_pitch_n4000.parquet")
        idx = list(range(0, 4000, 59))
        fresh = mpf.oracle_rows(idx).reset_index(drop=True)
        rows = sorted(i * 2 + j for i in idx for j in range(2))
        sample = fix.iloc[rows].reset_index(drop=True)
        assert list(sample.payload_md5) == list(fresh.payload_md5)

    def test_registry_has_q84(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q84_pitch_perturb" in QUERIES
        assert "q84_pitch_perturb" in ORACLE_SQL


class TestAugmentRouter:
    """q85: one clip -> exactly one augmentation lane, composed bit-for-bit
    from the standalone lanes (their equality with the committed fixtures
    is each lane's own test; here we pin routing + composition)."""

    def test_routes_partition_the_batch(self, spark):
        from datasmith_spark.datagen import clips_df
        from datasmith_spark.operators.audio_ops import augment_route_clips

        clips = clips_df(spark, 50, n_partitions=3)
        out = augment_route_clips(clips).toPandas()
        assert len(out) == 50 and out.clip_id.is_unique
        # crc32 routing spreads across all five lanes on 50 clips
        assert set(out.aug) == {"noise", "reverb", "speed", "tempo", "pitch"}

    def test_arbitrary_ids(self, spark):
        from datasmith_spark.operators.audio_ops import augment_route_clips

        rows = [
            ("s3://bucket/a.wav", encode(0.3 * np.sin(np.arange(24000) / 9.0), "pcm16"),
             16000, 1500, "pcm16", "hello"),
            ("weird id!", None, 16000, None, "pcm16", None),
        ]
        df = spark.createDataFrame(
            rows,
            "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
        )
        out = augment_route_clips(df).toPandas()
        assert len(out) == 2
        ok = out.set_index("clip_id")["ok"]
        assert bool(ok["s3://bucket/a.wav"]) is True
        assert bool(ok["weird id!"]) is False  # undecodable flags, not crashes

    def test_matches_standalone_lane(self, spark):
        """Routed digests equal the standalone lane digests for the routed
        clips (composition adds nothing and loses nothing)."""
        from datasmith_spark.datagen import clips_df
        from datasmith_spark.operators.audio_ops import (
            augment_route_clips,
            tempo_perturb_clips,
        )

        clips = clips_df(spark, 40, n_partitions=2)
        route = lambda cid: int(cid.rsplit("_", 1)[1]) % 5
        out = augment_route_clips(clips, route_fn=route).toPandas()
        tempo_ids = {c for c in out[out.aug == "tempo"].clip_id}
        assert tempo_ids  # route 3 present in 40 clips
        lane = (
            tempo_perturb_clips(clips, factors=((11, 10),), digest=True)
            .toPandas()
            .set_index("clip_id")
        )
        routed = out[out.aug == "tempo"].set_index("clip_id")
        for cid in tempo_ids:
            assert routed.loc[cid, "payload_md5"] == lane.loc[cid, "payload_md5"]

    def test_registry_has_q85(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q85_augment_router" in QUERIES
        assert "q85_augment_router" in ORACLE_SQL
