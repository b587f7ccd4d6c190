"""Looped-content audit (q173): exact tiling kernel, planted loop recovery,
arbitrary-id operator, fixture honesty."""

from __future__ import annotations

import numpy as np
import pandas as pd

from datasmith_spark.core.audio import encode
from datasmith_spark.core.looping import (
    LOOP_KS,
    PLANT_KS,
    looping_metrics,
    looping_variant,
)

from .conftest import REPO


def _noisy(n: int = 16000, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return 0.4 * np.sin(np.arange(n) / 9.0) + 0.01 * rng.standard_normal(n)


class TestKernel:
    def test_noisy_content_never_loops(self):
        m = looping_metrics(_noisy())
        assert m["loop_k"] == 1 and m["keep"] and m["loop_period"] is None

    def test_exact_tilings_detected_at_every_k(self):
        for k in LOOP_KS:
            seg = _noisy(3000, seed=k)
            m = looping_metrics(np.tile(seg, k))
            assert m["loop_k"] == k and m["loop_period"] == 3000, (k, m)
            assert m["looped"] and not m["keep"]

    def test_one_sample_difference_breaks_the_loop(self):
        y = np.tile(_noisy(3000), 2)
        y[-1] += 1e-12
        assert looping_metrics(y)["loop_k"] == 1

    def test_largest_k_wins(self):
        # a 4-fold tiling is also a 2-fold tiling: report 4
        m = looping_metrics(np.tile(_noisy(1000), 4))
        assert m["loop_k"] == 4 and m["loop_period"] == 1000

    def test_silence_and_edges_unjudged(self):
        assert looping_metrics(np.zeros(1000))["loop_k"] == 1
        assert looping_metrics(None)["keep"]
        assert looping_metrics(np.zeros(0))["keep"]
        # indivisible length: only the dividing ks are checked
        seg = _noisy(999)
        m = looping_metrics(np.tile(seg, 3)[:-1])  # n = 2996, not a tiling
        assert m["loop_k"] == 1

    def test_variant_deterministic_all_ks_and_edges(self):
        x = _noisy()
        y = looping_variant(x, "any id at all")
        assert np.array_equal(y, looping_variant(x, "any id at all"))
        ks = set()
        for cid in ("a", "b", "c", "d", "e", "f", "g", "h", "i"):
            m = looping_metrics(looping_variant(x, cid))
            assert m["looped"]
            ks.add(m["loop_k"])
        assert ks == set(PLANT_KS)
        assert looping_variant(np.zeros(100), "c") is None  # silent segment
        assert looping_variant(np.zeros(0), "c") is None
        assert looping_variant(_noisy(3), "c") is None  # too short to tile


class TestOperator:
    def test_arbitrary_ids_and_planting(self, spark):
        from datasmith_spark.operators.audio_ops import looping_clips

        clean = _noisy(8000)
        bad = looping_variant(clean, "u-1")
        rows = [
            ("s3://b/t rack.wav", encode(clean, "float32"), 16000, "float32"),
            ("u-1", encode(bad, "float32"), 16000, "float32"),
            ("broken", b"\x07", None, "float32"),
        ]
        df = spark.createDataFrame(rows, "clip_id string, bytes binary, sr_hz int, codec string")
        out = {r.clip_id: r for r in looping_clips(df).collect()}
        assert out["s3://b/t rack.wav"].keep
        assert not out["u-1"].keep and out["u-1"].looped
        assert not out["broken"].ok and out["broken"].keep

    def test_plants_recovered_zero_base_flags(self, spark):
        from datasmith_spark import datagen
        from datasmith_spark.operators.audio_ops import looping_clips

        clips = datagen.clips_df(spark, 200, n_partitions=4)
        got = looping_clips(clips, aug_every=40).toPandas()
        plants = got[got.clip_id.str.startswith("lp_")]
        base = got[~got.clip_id.str.startswith("lp_")]
        assert len(plants) >= 3 and plants.looped.all() and (~plants.keep).all()
        assert not base.looped.any()

    def test_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_looping_fixture as mlf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_looping_n4000.parquet")
        lo, hi = 1100, 1300
        fresh = mlf.oracle_rows(range(lo, hi)).reset_index(drop=True)
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"lp_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)].reset_index(drop=True)
        assert len(sample) == len(fresh) > 0
        for c in fresh.columns:
            assert (sample[c].astype(str) == fresh[c].astype(str)).all(), c

    def test_registry_has_q173(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q173_looping_audit" in QUERIES and "q173_looping_audit" in ORACLE_SQL
