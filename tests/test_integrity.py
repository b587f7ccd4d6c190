"""Sample-level audio integrity audit (q166): dropout / stuck-run kernel,
planted-corruption recovery, arbitrary-id operator, fixture honesty."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.core.audio import encode
from datasmith_spark.core.integrity import (
    INTEG_REP_MS,
    INTEG_ZERO_MS,
    _max_run,
    corrupted_variant,
    integrity_metrics,
)

from .conftest import REPO, write_rows


def _tone(sr: int = 16000, sec: float = 1.0) -> np.ndarray:
    t = np.arange(int(sr * sec)) / sr
    return 0.5 * np.sin(2 * np.pi * 173.0 * t)


class TestKernel:
    def test_max_run(self):
        assert _max_run(np.array([], dtype=bool)) == 0
        assert _max_run(np.array([False, False])) == 0
        assert _max_run(np.array([True, True, False, True])) == 2
        assert _max_run(np.array([True] * 5)) == 5

    def test_clean_tone_keeps(self):
        m = integrity_metrics(_tone(), 16000)
        assert m["keep"] and m["max_zero_run"] <= 1 and m["max_rep_run"] <= 1

    def test_threshold_is_rate_relative(self):
        # an 8 ms dropout passes at 16 kHz (128 < 160 samples) but the
        # same SAMPLE count fails at 8 kHz (128 >= 80)
        x = _tone(16000)
        x[100 : 100 + 128] = 0.0
        assert integrity_metrics(x, 16000)["keep"]
        assert not integrity_metrics(x, 8000)["keep"]
        assert INTEG_ZERO_MS == INTEG_REP_MS == 10

    def test_exact_boundary(self):
        x = _tone(16000)
        x[100 : 100 + 160] = 0.0  # exactly 10 ms at 16 kHz
        m = integrity_metrics(x, 16000)
        assert m["dropout"] and not m["keep"]

    def test_all_zero_clip_is_one_dropout(self):
        m = integrity_metrics(np.zeros(4000), 16000)
        assert m["dropout"] and m["max_zero_run"] == 4000 and not m["stuck"]

    def test_corrupted_variant_planted_and_deterministic(self):
        x = _tone(sec=1.0)
        y = corrupted_variant(x, 16000, "any id at all")
        m = integrity_metrics(y, 16000)
        assert m["dropout"] and m["stuck"] and not m["keep"]
        assert np.array_equal(y, corrupted_variant(x, 16000, "any id at all"))
        assert not np.array_equal(y, corrupted_variant(x, 16000, "other"))
        assert corrupted_variant(np.zeros(0), 16000, "e").size == 0


class TestOperator:
    def test_arbitrary_ids_and_planting(self, spark, tmp_path):
        from datasmith_spark.operators.audio_ops import integrity_scan

        clean = _tone(sec=0.5)
        bad = corrupted_variant(clean, 16000, "u-1")
        rows = [
            ("s3://b/t rack.wav", encode(clean, "pcm16"), 16000, "pcm16"),
            ("u-1", encode(bad, "pcm16"), 16000, "pcm16"),
            ("broken", b"\x07", None, "pcm16"),
        ]
        path = write_rows(tmp_path, pd.DataFrame(rows, columns=["clip_id", "bytes", "sr_hz", "codec"]))
        out = {r.clip_id: r for r in integrity_scan(spark, path).collect()}
        assert out["s3://b/t rack.wav"].keep
        assert not out["u-1"].keep and out["u-1"].dropout and out["u-1"].stuck
        assert not out["broken"].ok

    def test_plants_recovered_zero_base_fp(self, spark, tmp_path):
        from datasmith_spark import datagen
        from datasmith_spark.operators.audio_ops import integrity_scan

        path = write_rows(tmp_path, datagen.clips_pdf(200))
        got = integrity_scan(spark, path, aug_every=40).toPandas()
        plants = got[got.clip_id.str.startswith("co_")]
        base = got[~got.clip_id.str.startswith("co_")]
        assert len(plants) >= 3 and (~plants.keep).all()
        assert base[base.ok].keep.all()

    def test_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_integrity_fixture as mif

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_integrity_n4000.parquet")
        lo, hi = 1200, 1400
        fresh = mif.oracle_rows(range(lo, hi)).reset_index(drop=True)
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"co_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)].reset_index(drop=True)
        assert len(sample) == len(fresh) > 0
        for c in fresh.columns:
            assert (sample[c].astype(str) == fresh[c].astype(str)).all(), c

    def test_registry_has_q166(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q166_integrity_audit" in QUERIES and "q166_integrity_audit" in ORACLE_SQL
