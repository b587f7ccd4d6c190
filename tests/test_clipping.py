"""Clipping/saturation audit (q171): exact saturation-bound kernel, planted
hard-clip recovery, arbitrary-id operator, fixture honesty."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from datasmith_spark.core.audio import CODECS, decode, encode
from datasmith_spark.core.clipping import (
    CLIP_FRAC_LOG2,
    CLIP_RUN_MIN,
    SAT_BOUNDS,
    clipping_metrics,
    clipping_variant,
)

from .conftest import REPO


def _tone(sr: int = 16000, sec: float = 1.0, f: float = 211.0, amp: float = 0.5):
    t = np.arange(int(sr * sec)) / sr
    return amp * np.sin(2 * np.pi * f * t)


class TestKernel:
    def test_clean_tone_keeps(self):
        m = clipping_metrics(_tone(), "pcm16")
        assert m["keep"] and m["n_clipped"] == 0 and m["clip_log2"] is None

    def test_hard_clip_flagged_every_codec(self):
        # a 2x-overdriven tone clamped to each codec's exact bounds must
        # trip both verdict axes at every codec
        for codec in CODECS:
            lo, hi = SAT_BOUNDS[codec]
            x = np.clip(2.0 * _tone(amp=0.9), lo, hi)
            m = clipping_metrics(x, codec)
            assert m["clipped"] and not m["keep"], (codec, m)
            assert m["max_clip_run"] >= CLIP_RUN_MIN
            assert m["clip_log2"] >= CLIP_FRAC_LOG2

    def test_saturation_is_equality_class_not_tolerance(self):
        # samples 1 LSB inside the pcm16 bounds never count as saturated
        x = np.full(4096, 32766.0 / 32767.0)
        assert clipping_metrics(x, "pcm16")["n_clipped"] == 0
        x = np.full(4096, -32767.0 / 32767.0)  # 1 LSB above the -32768 floor
        assert clipping_metrics(x, "pcm16")["n_clipped"] == 0

    def test_verdict_needs_both_axes(self):
        # long flat-top but tiny fraction: run passes, fraction fails
        x = _tone(sec=4.0, amp=0.5)
        x[100:100 + CLIP_RUN_MIN + 2] = 1.0
        m = clipping_metrics(x, "pcm16")
        assert m["max_clip_run"] >= CLIP_RUN_MIN and not m["clipped"]
        # high fraction but isolated samples: fraction passes, run fails
        y = _tone(sec=0.1, amp=0.5)
        y[::16] = 1.0
        m = clipping_metrics(y, "pcm16")
        assert m["clip_log2"] >= CLIP_FRAC_LOG2 and m["max_clip_run"] == 1
        assert not m["clipped"]

    def test_run_accounting_exact(self):
        x = np.zeros(1000)
        x[10:20] = 1.0   # run 10
        x[50:53] = -1.0  # run 3
        x[900] = 1.0     # run 1
        m = clipping_metrics(x, "float32")
        assert m["n_clipped"] == 14
        assert m["n_clip_runs"] == 3
        assert m["max_clip_run"] == 10

    def test_edges(self):
        assert clipping_metrics(None, "pcm16")["keep"]
        assert clipping_metrics(np.zeros(0), "pcm16")["n_samples"] == 0
        assert clipping_metrics(_tone(), "opus")["keep"]  # unknown codec
        assert clipping_metrics(_tone(), None)["keep"]

    def test_variant_exact_deterministic_and_both_gains(self):
        x = _tone(amp=0.03)  # quiet clip: amplitude-relative gain must bite
        y = clipping_variant(x, "pcm16", "any id at all")
        m = clipping_metrics(y, "pcm16")
        assert m["clipped"] and not m["keep"]
        assert np.array_equal(y, clipping_variant(x, "pcm16", "any id at all"))
        assert clipping_variant(np.zeros(100), "pcm16", "c") is None
        assert clipping_variant(np.zeros(0), "pcm16", "c") is None
        assert clipping_variant(x, "opus", "c") is None
        # the id hash picks 8x vs 16x overdrive: both occur across ids, and
        # the applied gain is always an exact power of two
        gains = set()
        for cid in ("a", "b", "c", "d", "e", "f", "g"):
            y = clipping_variant(x, "pcm16", cid)
            inside = (np.abs(y) < 0.5) & (x != 0)  # unclamped: y == g*x exactly
            g = float((y[inside] / x[inside])[0])
            assert (y[inside] == g * x[inside]).all()
            m, e = math.frexp(g)
            assert m == 0.5  # power of two
            gains.add(g)
        assert len(gains) == 2

    def test_decode_roundtrip_of_clamped_payload_still_flags(self):
        # encode the clamped variant and decode it back: saturation must
        # survive the codec round-trip (the values land on the top codes)
        for codec in CODECS:
            x = clipping_variant(_tone(amp=0.8), codec, "rt")
            m = clipping_metrics(decode(encode(x, codec), codec), codec)
            assert m["clipped"], codec


class TestOperator:
    def test_arbitrary_ids_and_planting(self, spark):
        from datasmith_spark.operators.audio_ops import clipping_clips

        clean = _tone(sec=0.5)
        bad = clipping_variant(clean, "pcm16", "u-1")
        rows = [
            ("s3://b/t rack.wav", encode(clean, "pcm16"), 16000, "pcm16"),
            ("u-1", encode(bad, "pcm16"), 16000, "pcm16"),
            ("broken", b"\x07", None, "pcm16"),
        ]
        df = spark.createDataFrame(rows, "clip_id string, bytes binary, sr_hz int, codec string")
        out = {r.clip_id: r for r in clipping_clips(df).collect()}
        assert out["s3://b/t rack.wav"].keep
        assert not out["u-1"].keep and out["u-1"].clipped
        assert not out["broken"].ok and out["broken"].keep

    def test_plants_recovered_zero_base_flags(self, spark):
        from datasmith_spark import datagen
        from datasmith_spark.operators.audio_ops import clipping_clips

        clips = datagen.clips_df(spark, 200, n_partitions=4)
        got = clipping_clips(clips, aug_every=40).toPandas()
        plants = got[got.clip_id.str.startswith("cl_")]
        base = got[~got.clip_id.str.startswith("cl_")]
        assert len(plants) >= 3 and plants.clipped.all() and (~plants.keep).all()
        assert not base.clipped.any()
        # natural ceiling: isolated coarse-codec top-code touches only
        assert base.max_clip_run.max() <= 1

    def test_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_clipping_fixture as mcf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_clipping_n4000.parquet")
        lo, hi = 1100, 1300
        fresh = mcf.oracle_rows(range(lo, hi)).reset_index(drop=True)
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"cl_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)].reset_index(drop=True)
        assert len(sample) == len(fresh) > 0
        for c in fresh.columns:
            assert (sample[c].astype(str) == fresh[c].astype(str)).all(), c

    def test_registry_has_q171(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q171_clipping_audit" in QUERIES and "q171_clipping_audit" in ORACLE_SQL
