"""Sample-rate conversion + log-mel kernels and their Spark operators."""

from __future__ import annotations

import numpy as np
import pytest

from datasmith_spark.core.audio import decode, snr_db
from datasmith_spark.core.resample import logmel, mel_filterbank, resample

from .conftest import REPO


def _sine(freq: float, sr: int, sec: float = 0.5) -> np.ndarray:
    t = np.arange(int(sr * sec), dtype=np.float64) / sr
    return 0.5 * np.sin(2 * np.pi * freq * t)


def _trim(x: np.ndarray, n: int = 256) -> np.ndarray:
    return x[n:-n]


class TestResampleKernel:
    def test_identity_and_empty(self):
        x = _sine(440, 16000)
        assert np.array_equal(resample(x, 16000, 16000), x)
        assert resample(np.zeros(0), 8000, 16000).size == 0

    def test_output_length(self):
        x = _sine(440, 16000, 0.1)
        assert resample(x, 16000, 48000).size == x.size * 3
        assert resample(x, 16000, 8000).size == x.size // 2

    def test_sinc_roundtrip_snr(self):
        # mid-band tone survives 16k -> 8k -> 16k well above the 30 dB gate
        x = _sine(1000, 16000)
        y = resample(resample(x, 16000, 8000), 8000, 16000)
        assert snr_db(_trim(x), _trim(y)) >= 40.0

    def test_upsample_snr(self):
        x = _sine(1000, 16000)
        y = resample(x, 16000, 48000)
        ref = _sine(1000, 48000)[: y.size]
        assert snr_db(_trim(ref, 768), _trim(y, 768)) >= 40.0

    def test_antialias_on_downsample(self):
        # 7 kHz tone is above the 8 kHz output's Nyquist: it must be
        # attenuated, not folded back as a 1 kHz alias
        x = _sine(7000, 16000)
        y = resample(x, 16000, 8000)
        in_rms = float(np.sqrt((x**2).mean()))
        out_rms = float(np.sqrt((_trim(y) ** 2).mean()))
        assert out_rms < 0.05 * in_rms

    def test_linear_mode(self):
        x = _sine(200, 16000)
        y = resample(x, 16000, 48000, mode="linear")
        ref = _sine(200, 48000)[: y.size]
        assert snr_db(_trim(ref, 768), _trim(y, 768)) >= 35.0

    def test_determinism_and_batch_invariance(self):
        rng = np.random.default_rng(3)
        x = rng.standard_normal(50_000) * 0.1
        a = resample(x, 48000, 16000)
        b = resample(x, 48000, 16000)
        assert np.array_equal(a, b)

    def test_bad_args(self):
        with pytest.raises(ValueError):
            resample(_sine(440, 16000, 0.01), 16000, 0)
        with pytest.raises(ValueError):
            resample(_sine(440, 16000, 0.01), 16000, 8000, mode="cubic")


class TestLogmelKernel:
    def test_shapes_and_short_clip(self):
        x = _sine(1000, 16000)  # 8000 samples
        m = logmel(x, 16000, n_fft=512, hop=256, n_mels=40)
        assert m.shape == (1 + (x.size - 512) // 256, 40)
        assert logmel(np.zeros(100), 16000, n_fft=512).shape == (0, 40)

    def test_tone_lands_in_right_mel_band(self):
        sr, n_fft, n_mels = 16000, 512, 40
        m = logmel(_sine(2000, sr), sr, n_fft=n_fft, n_mels=n_mels)
        hot = int(np.bincount(m.argmax(axis=1), minlength=n_mels).argmax())
        fb = mel_filterbank(sr, n_fft, n_mels)
        centers = fb.argmax(axis=1) * sr / n_fft
        assert abs(centers[hot] - 2000) < 300
        # louder tone -> larger log energy in its band
        quiet = logmel(0.05 * _sine(2000, sr), sr, n_fft=n_fft, n_mels=n_mels)
        assert m[:, hot].mean() > quiet[:, hot].mean()

    def test_filterbank_covers_spectrum(self):
        fb = mel_filterbank(16000, 512, 40)
        assert fb.shape == (40, 257)
        assert (fb >= 0).all() and (fb.sum(axis=1) > 0).all()


class TestSparkOperators:
    @pytest.fixture(scope="class")
    def clips(self, spark):
        from datasmith_spark.datagen import clips_df

        return clips_df(spark, 120, n_partitions=4).cache()

    def test_resample_clips(self, spark, clips):
        from datasmith_spark.operators.audio_ops import resample_clips

        out = resample_clips(clips, 16000).toPandas().set_index("clip_id")
        src = clips.toPandas().set_index("clip_id")
        assert len(out) == len(src)
        ok = out[out.resample_ok]
        assert len(ok) > 0
        assert (ok.sr_hz == 16000).all() and (ok.codec == "pcm16").all()
        # byte payloads decode at the new rate to roughly the same duration
        for cid, row in ok.head(5).iterrows():
            pcm = decode(row.bytes, "pcm16")
            assert abs(pcm.size / 16000 * 1000 - row.dur_ms) <= 1
        # undecodable rows pass through byte-identical, never dropped
        bad = out[~out.resample_ok]
        for cid, row in bad.iterrows():
            assert row.bytes == src.loc[cid].bytes

    def test_resample_preserves_content(self, spark, clips):
        from datasmith_spark.operators.audio_ops import resample_clips

        src = clips.toPandas()
        srow = next(
            r for _, r in src.iterrows()
            if decode(r.bytes, r.codec) is not None
            and r.sr_hz in (44100, 48000)
            and decode(r.bytes, r.codec).size > 4096
        )
        out = (
            resample_clips(clips, 16000)
            .filter(f"clip_id = '{srow.clip_id}'")
            .toPandas()
            .iloc[0]
        )
        got = decode(out.bytes, "pcm16")
        ref = resample(decode(srow.bytes, srow.codec), int(srow.sr_hz), 16000)
        # pcm16 re-quantization is the only loss; SNR far above the 30 dB gate
        assert snr_db(ref, got) >= 40.0

    def test_logmel_features(self, spark, clips):
        from datasmith_spark.operators.audio_ops import logmel_features

        out = logmel_features(clips, n_fft=256, hop=128, n_mels=24).toPandas()
        assert len(out) == clips.count()
        ok = out[out.ok]
        assert len(ok) > 0
        for _, row in ok.iterrows():
            assert len(row.feats) == row.n_frames * row.n_mels
        # a known row matches the kernel exactly
        src = clips.toPandas()
        srow = next(r for _, r in src.iterrows() if decode(r.bytes, r.codec) is not None)
        ref = logmel(decode(srow.bytes, srow.codec), int(srow.sr_hz), n_fft=256, hop=128, n_mels=24)
        got = np.asarray(
            out[out.clip_id == srow.clip_id].iloc[0].feats, dtype=np.float64
        ).reshape(-1, 24)
        assert got.shape == ref.shape
        np.testing.assert_allclose(got, ref, rtol=0, atol=1e-12)


class TestFixtureAndDigests:
    @pytest.fixture(scope="class")
    def clips(self, spark):
        from datasmith_spark.datagen import clips_df

        return clips_df(spark, 120, n_partitions=4).cache()

    def test_audio_ops_fixture_is_honest(self):
        """The committed audio-ops fixture (q36/q37 DuckDB oracle input)
        must equal a fresh regeneration on a deterministic row sample."""
        import sys

        import pandas as pd

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_ops_fixture as maf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_ops_n4000.parquet")
        assert len(fix) == 4000
        idx = list(range(0, 4000, 29))  # 138-row deterministic sample
        fresh = maf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        for c in fresh.columns:
            a = sample[c].astype("object").where(sample[c].notna(), "<null>").astype(str)
            b = fresh[c].astype("object").where(fresh[c].notna(), "<null>").astype(str)
            assert (a == b).all(), c

    def test_logmel_digest_mode_matches_array_mode(self, spark, clips):
        import hashlib

        from datasmith_spark.operators.audio_ops import logmel_features

        arr = logmel_features(clips).toPandas().set_index("clip_id")
        dig = logmel_features(clips, digest=True).toPandas().set_index("clip_id")
        assert (arr[["ok", "n_frames", "n_mels"]] == dig[["ok", "n_frames", "n_mels"]]).all().all()
        for cid, row in arr.iterrows():
            want = hashlib.md5(
                np.ascontiguousarray(np.asarray(row.feats), dtype="<f8").tobytes()
            ).hexdigest()
            assert dig.loc[cid].feats_md5 == want

    def test_registry_has_audio_ops_queries(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        for name in ("q36_resample_clips", "q37_logmel_features"):
            assert name in QUERIES and name in ORACLE_SQL

    def test_resample_digest_mode_matches_bytes_mode(self, spark, clips):
        import hashlib

        from datasmith_spark.operators.audio_ops import resample_clips

        full = resample_clips(clips, 16000).toPandas().set_index("clip_id")
        dig = resample_clips(clips, 16000, digest=True).toPandas().set_index("clip_id")
        assert (full["resample_ok"] == dig["resample_ok"]).all()
        for cid, row in full.iterrows():
            want = None if row.bytes is None else hashlib.md5(row.bytes).hexdigest()
            assert dig.loc[cid].payload_md5 == want


class TestMixOverlay:
    """q89 speech-overlap kernel + the pairwise-join operator."""

    def test_exact_sir(self):
        from datasmith_spark.core.resample import mix_overlay

        b = _sine(440, 16000, 1.0)
        o = 0.2 * np.sin(2 * np.pi * 900 * np.arange(16000) / 16000.0)
        y = mix_overlay(b, 16000, o, 16000, sir_db=10)
        added = y - b
        sir = 20 * np.log10(
            np.sqrt(np.mean(b**2)) / np.sqrt(np.mean(added**2))
        )
        assert abs(sir - 10.0) < 1e-9

    def test_negative_sir_boosts_overlay(self):
        from datasmith_spark.core.resample import mix_overlay

        b = _sine(440, 16000, 0.25)
        o = _sine(900, 16000, 0.25)
        y = mix_overlay(b, 16000, o, 16000, sir_db=-10)
        added = y - b
        assert np.sqrt(np.mean(added**2)) > np.sqrt(np.mean(b**2))

    def test_rate_mismatch_resamples_overlay(self):
        from datasmith_spark.core.resample import mix_overlay

        b = _sine(440, 16000, 0.5)
        o = _sine(300, 8000, 0.5)  # same duration, half the samples
        y = mix_overlay(b, 16000, o, 8000, sir_db=10)
        assert y.shape == b.shape
        # the resampled overlay covers (almost) the whole base, so the
        # tail is genuinely mixed, not zero-padded passthrough
        assert not np.array_equal(y[-2000:], b[-2000:])

    def test_long_overlay_truncates(self):
        from datasmith_spark.core.resample import mix_overlay

        b = _sine(440, 16000, 0.25)
        o = _sine(900, 16000, 1.0)
        y = mix_overlay(b, 16000, o, 16000, sir_db=10)
        assert y.shape == b.shape

    def test_none_contracts_and_bad_args(self):
        from datasmith_spark.core.resample import mix_overlay

        b = _sine(440, 16000, 0.1)
        assert mix_overlay(b, 16000, np.array([]), 16000) is None
        assert mix_overlay(np.array([]), 16000, b, 16000) is None
        assert mix_overlay(b, 16000, np.zeros(50), 16000) is None
        assert mix_overlay(np.zeros(50), 16000, b, 16000) is None
        assert mix_overlay(b, 16000, b, 0) is None
        with pytest.raises(ValueError):
            mix_overlay(b, 16000, b, 16000, sir_db=7)

    def test_operator_arbitrary_ids(self, spark):
        """mix_overlay_clips must work over ARBITRARY clip ids (no datagen
        naming assumption — the r4 audio_fp lesson) and its digest mode
        must agree with the bytes mode."""
        import hashlib

        from datasmith_spark.core.audio import encode
        from datasmith_spark.core.resample import mix_overlay
        from datasmith_spark.operators.audio_ops import mix_overlay_clips

        sr = 16000
        b1 = _sine(440, sr, 0.3)
        o1 = _sine(900, sr, 0.3)
        rows_b = [
            ("weird id!", encode(b1, "pcm16"), sr, 300, "pcm16", "t1", 0),
            ("no-underscore", encode(b1, "pcm16"), sr, 300, "pcm16", "t2", 1),
            ("silent ovl", encode(b1, "pcm16"), sr, 300, "pcm16", "t3", 2),
        ]
        rows_o = [
            ("ovl/0", encode(o1, "pcm16"), sr, 300, "pcm16", "x", 0),
            ("ovl/1", encode(o1, "mulaw"), sr, 300, "mulaw", "x", 1),
            ("ovl/2", encode(np.zeros(100), "pcm16"), sr, 300, "pcm16", "x", 2),
        ]
        ddl = (
            "clip_id string, bytes binary, sr_hz int, dur_ms int, "
            "codec string, transcript string, pair_id int"
        )
        base = spark.createDataFrame(rows_b, ddl)
        ovl = spark.createDataFrame(rows_o, ddl)
        out = (
            mix_overlay_clips(base, ovl, on="pair_id", sir_db=10)
            .toPandas()
            .set_index("clip_id")
        )
        assert len(out) == 3
        assert bool(out.loc["weird id!", "mixed"]) is True
        assert bool(out.loc["silent ovl", "mixed"]) is False  # silent overlay
        assert out.loc["silent ovl", "bytes"] == rows_b[2][1]  # passthrough
        want = encode(
            mix_overlay(
                decode(rows_b[0][1], "pcm16"), sr,
                decode(rows_o[0][1], "pcm16"), sr, 10,
            ),
            "pcm16",
        )
        assert bytes(out.loc["weird id!", "bytes"]) == want

        dig = (
            mix_overlay_clips(base, ovl, on="pair_id", sir_db=10, digest=True)
            .toPandas()
            .set_index("clip_id")
        )
        for cid, row in out.iterrows():
            assert dig.loc[cid, "payload_md5"] == hashlib.md5(
                bytes(row["bytes"])
            ).hexdigest()
            assert bool(dig.loc[cid, "mixed"]) == bool(row["mixed"])

    def test_mix_fixture_is_honest(self):
        """The committed q89 fixture must equal a fresh regeneration on a
        deterministic row sample."""
        import sys

        import pandas as pd

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_mix_fixture as mmf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_mix_n4000.parquet")
        assert len(fix) == 2000
        idx = list(range(0, 2000, 67))  # 30-row deterministic sample
        fresh = mmf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        for c in fresh.columns:
            a = sample[c].astype("object").where(sample[c].notna(), "<null>").astype(str)
            b = fresh[c].astype("object").where(fresh[c].notna(), "<null>").astype(str)
            assert (a == b).all(), c

    def test_registry_has_q89(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q89_overlap_mix" in QUERIES and "q89_overlap_mix" in ORACLE_SQL


class TestXcorrAlign:
    def test_xcorr_lag_recovers_planted_delays(self):
        import numpy as np

        from datasmith_spark.core.spectral import xcorr_lag

        rng = np.random.RandomState(156)
        x = rng.randn(8000)
        for d in (0, 1, 16, 299, 512):
            lag, peak = xcorr_lag(x, np.concatenate([np.zeros(d), 0.5 * x]), 512)
            assert lag == d
            assert peak > 0
        # silent: deterministic lowest-lag tiebreak
        assert xcorr_lag(np.zeros(64), np.zeros(128), 32)[0] == 0
        with pytest.raises(ValueError):
            xcorr_lag(x, x, -1)

    def test_xcorr_lag_periodic_signal_still_peaks_at_true_lag(self):
        """r_xx(0) strictly dominates lagged autocorrelation even for a pure
        tone (finite-window energy loss) — the argmax-stability argument the
        integer fixture rests on."""
        import numpy as np

        from datasmith_spark.core.spectral import xcorr_lag

        sr, f0 = 16000, 200  # period = 80 samples, well under max_lag
        x = np.sin(2 * np.pi * f0 * np.arange(sr) / sr)
        for d in (40, 160, 313):
            lag, _ = xcorr_lag(x, np.concatenate([np.zeros(d), 0.6 * x]), 512)
            assert lag == d

    def test_pair_align_arbitrary_ids(self, spark):
        """xcorr_align_clips works on ARBITRARY clip ids (the q38 defect
        class): plant known delays, recover them through the pair join."""
        import numpy as np

        from datasmith_spark.core.audio import encode
        from datasmith_spark.operators.audio_ops import xcorr_align_clips

        rng = np.random.RandomState(9)
        rows_b, rows_p, want = [], [], {}
        for i, cid in enumerate(["weird id!", "clip/α", "x" * 40, "no_suffix"]):
            pcm = rng.randn(6000) * 0.1
            d = 17 * (i + 1)
            probe = np.concatenate([np.zeros(d), 0.6 * pcm])
            rows_b.append((i, cid, bytearray(encode(pcm, "pcm16")), 16000, "pcm16"))
            rows_p.append((i, cid + "_probe", bytearray(encode(probe, "pcm16")), 16000, "pcm16"))
            want[cid] = d
        ddl = "pair_id int, clip_id string, bytes binary, sr_hz int, codec string"
        base = spark.createDataFrame(rows_b, ddl)
        probe = spark.createDataFrame(rows_p, ddl)
        got = {r.clip_id: r for r in xcorr_align_clips(base, probe).collect()}
        assert len(got) == 4
        for cid, d in want.items():
            assert got[cid].ok and got[cid].lag == d, cid

    def test_pair_align_undecodable_flags_not_crashes(self, spark):
        from datasmith_spark.operators.audio_ops import xcorr_align_clips

        ddl = "pair_id int, clip_id string, bytes binary, sr_hz int, codec string"
        base = spark.createDataFrame([(0, "a", bytearray(b"xx"), None, "pcm16")], ddl)
        probe = spark.createDataFrame([(0, "a_p", bytearray(b"yy"), 16000, "pcm16")], ddl)
        row = xcorr_align_clips(base, probe).collect()[0]
        assert row.ok is False and row.lag is None

    def test_xcorr_fixture_is_honest(self):
        """The committed q156 fixture must equal a fresh regeneration on a
        deterministic row sample."""
        import sys

        import pandas as pd

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_xcorr_fixture as mxf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_xcorr_n4000.parquet")
        assert len(fix) == 4000
        # decodable clips must recover the planted lag exactly
        assert bool(fix.loc[fix["ok"], "hit"].all())
        idx = list(range(0, 4000, 131))
        fresh = mxf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        for c in fresh.columns:
            a = sample[c].astype("object").where(sample[c].notna(), "<null>").astype(str)
            b = fresh[c].astype("object").where(fresh[c].notna(), "<null>").astype(str)
            assert (a == b).all(), c

    def test_registry_has_q156(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q156_xcorr_align" in QUERIES and "q156_xcorr_align" in ORACLE_SQL
