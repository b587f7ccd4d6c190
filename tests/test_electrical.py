"""Electrical-defect audit (q170): mains-hum / DC-offset kernel, planted
defect recovery, arbitrary-id operator, fixture honesty."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.core.audio import _sumsq_tree, _tree_sum, encode
from datasmith_spark.core.electrical import (
    DC_KEEP_LOG2,
    HUM_FREQS_HZ,
    HUM_KEEP_LOG2,
    electrical_metrics,
    electrical_variant,
)

from .conftest import REPO


def _tone(sr: int = 16000, sec: float = 2.0, f: float = 173.0) -> np.ndarray:
    t = np.arange(int(sr * sec)) / sr
    return 0.4 * np.sin(2 * np.pi * f * t)


def _square(n: int, sr: int, f: int) -> np.ndarray:
    half = ((np.arange(n, dtype=np.int64) * (2 * f)) // sr) & 1
    return np.where(half == 0, 1.0, -1.0)


class TestKernel:
    def test_clean_tone_keeps(self):
        m = electrical_metrics(_tone(), 16000)
        assert m["keep"] and not m["hum"] and not m["dc"]
        assert m["n_frames"] == 10  # 2 s of 200 ms frames

    @pytest.mark.parametrize("f", HUM_FREQS_HZ)
    @pytest.mark.parametrize("sr", [8000, 16000, 22050, 44100, 48000])
    def test_hum_flagged_at_every_corpus_rate(self, f, sr):
        x = _tone(sr) + 0.1 * _square(2 * sr, sr, f)
        m = electrical_metrics(x, sr)
        assert m["hum"] and not m["keep"], (f, sr, m)

    def test_pure_hum_dominates(self):
        sr = 16000
        m = electrical_metrics(0.2 * _square(sr, sr, 50), sr)
        assert m["hum"] and m["hum_log2"] >= -1  # ~all non-DC power in band

    def test_nearby_tone_does_not_false_flag(self):
        # an 80 Hz tone (the corpus minimum) is 4 bins from 60 Hz: leakage
        # must stay well under the keep line
        sr = 16000
        m = electrical_metrics(_tone(sr, f=80.0), sr)
        assert not m["hum"] and m["hum_log2"] <= HUM_KEEP_LOG2 - 2

    def test_dc_offset_flagged_and_boundary(self):
        sr = 16000
        x = _tone(sr)
        rms = math.sqrt(_sumsq_tree(x) / x.size)
        m = electrical_metrics(x + rms / 8, sr)
        assert m["dc"] and not m["keep"]
        # far below the line: |mean| = rms/100 -> ratio ~2^-13.3 < 2^-8
        assert not electrical_metrics(x + rms / 100, sr)["dc"]

    def test_dc_verdict_is_cross_multiplied_exact(self):
        # construct mean^2 exactly at the 2^-8 line: x in {a+1, a-1} with
        # a chosen so sum^2 == 2^-8 * n * sumsq  =>  a^2 = (1+a^2)/256
        a = math.sqrt(1.0 / 255.0)
        x = np.tile([a + 1.0, a - 1.0], 2048)
        s, ss, n = _tree_sum(x), _sumsq_tree(x), x.size
        m = electrical_metrics(x, 16000)
        assert m["dc"] == (s * s >= math.ldexp(float(n) * ss, DC_KEEP_LOG2))

    def test_short_silent_empty_edges(self):
        m = electrical_metrics(np.zeros(10), 16000)  # < 1 frame, silent
        assert m["n_frames"] == 0 and m["keep"]
        assert electrical_metrics(None, 16000)["keep"]
        assert electrical_metrics(np.zeros(0), 16000)["keep"]
        assert electrical_metrics(_tone(), 0)["keep"]  # bad sr: unjudgeable

    def test_variant_planted_and_deterministic(self):
        x = _tone()
        y = electrical_variant(x, 16000, "any id at all")
        m = electrical_metrics(y, 16000)
        assert m["hum"] and m["dc"] and not m["keep"]
        assert np.array_equal(y, electrical_variant(x, 16000, "any id at all"))
        assert electrical_variant(np.zeros(100), 16000, "e") is None
        assert electrical_variant(np.zeros(0), 16000, "e") is None
        # the id hash picks the mains frequency: both must occur across ids
        def plant_freq(cid: str) -> int:
            sq = np.sign(electrical_variant(x, 16000, cid) - x - 0.0)
            sq = np.sign(sq - np.mean(sq))  # remove the DC part of the plant
            flips = int(np.count_nonzero(sq[1:] != sq[:-1]))
            return round(flips / 2 / 2.0)  # half-periods -> Hz over 2 s

        freqs = {plant_freq(cid) for cid in ("a", "b", "c", "d", "e", "f", "g")}
        assert freqs <= set(HUM_FREQS_HZ) and len(freqs) == 2


class TestOperator:
    def test_arbitrary_ids_and_planting(self, spark):
        from datasmith_spark.operators.audio_ops import electrical_clips

        clean = _tone(sec=0.5)
        bad = electrical_variant(clean, 16000, "u-1")
        rows = [
            ("s3://b/t rack.wav", encode(clean, "pcm16"), 16000, "pcm16"),
            ("u-1", encode(bad, "pcm16"), 16000, "pcm16"),
            ("broken", b"\x07", None, "pcm16"),
        ]
        df = spark.createDataFrame(rows, "clip_id string, bytes binary, sr_hz int, codec string")
        out = {r.clip_id: r for r in electrical_clips(df).collect()}
        assert out["s3://b/t rack.wav"].keep
        assert not out["u-1"].keep and out["u-1"].hum
        assert not out["broken"].ok and out["broken"].keep

    def test_plants_recovered_no_base_hum(self, spark):
        from datasmith_spark import datagen
        from datasmith_spark.operators.audio_ops import electrical_clips

        clips = datagen.clips_df(spark, 200, n_partitions=4)
        got = electrical_clips(clips, aug_every=40).toPandas()
        plants = got[got.clip_id.str.startswith("el_")]
        base = got[~got.clip_id.str.startswith("el_")]
        assert len(plants) >= 3 and (~plants.keep).all() and plants.hum.all()
        assert not base.hum.any()  # hum lane: zero natural flags
        # base dc flags exist and are exactly the quiet-pcm8 bias story
        flagged = base[base.dc]
        assert (flagged.ok).all()

    def test_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_electrical_fixture as mef

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_electrical_n4000.parquet")
        lo, hi = 1100, 1300
        fresh = mef.oracle_rows(range(lo, hi)).reset_index(drop=True)
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"el_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)].reset_index(drop=True)
        assert len(sample) == len(fresh) > 0
        for c in fresh.columns:
            assert (sample[c].astype(str) == fresh[c].astype(str)).all(), c

    def test_registry_has_q170(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q170_electrical_audit" in QUERIES and "q170_electrical_audit" in ORACLE_SQL
