"""Audio-fingerprint near-dup: kernel invariances, Spark recall of planted
duplicates, and fixture honesty for the q38 oracle."""

from __future__ import annotations

import numpy as np
import pytest

from datasmith_spark.core.audio import decode, encode
from datasmith_spark.core.audio_fp import (
    FP_KGRAM,
    aug_variant,
    fingerprint_bits,
    fp_keys,
)

from .conftest import REPO


def _tone(sr: int, secs: float, f: float = 523.0, seed: int = 11) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t = np.arange(int(sr * secs)) / sr
    return 0.5 * np.sin(2 * np.pi * f * t) + 0.04 * rng.standard_normal(t.size)


class TestKernel:
    def test_gain_invariance_exact(self):
        x = _tone(16000, 2.0)
        fp = fingerprint_bits(x, 16000)
        assert fp.size > 0
        for g in (0.1, 0.5, 2.0):
            assert np.array_equal(fp, fingerprint_bits(g * x, 16000))

    def test_cross_rate_comparability(self):
        """The same signal fingerprinted at its native 16k vs delivered at
        48k (sinc-resampled in) must agree on most keys — the property that
        makes fingerprints joinable across source sample rates."""
        from datasmith_spark.core.resample import resample

        x = _tone(16000, 3.0)
        x48 = resample(x, 16000, 48000)
        a = set(fp_keys(x, 16000))
        b = set(fp_keys(x48, 48000))
        assert a and b
        jacc = len(a & b) / len(a | b)
        assert jacc > 0.5, jacc

    def test_requantization_robustness(self):
        """A gain-ridden pcm16 re-encode of the same signal keeps high key
        overlap — the near-dup case the operator exists to catch. (Coarse
        8-bit companding like mu-law flips too many sign bits for EXACT
        k-gram keys; catching those would need Hamming-ball matching on the
        sub-fingerprints, documented as out of scope in core/audio_fp.py.)"""
        x = _tone(16000, 2.5)
        base = set(fp_keys(x, 16000))
        y = decode(encode(0.7 * x, "pcm16"), "pcm16")
        other = set(fp_keys(y, 16000))
        jacc = len(base & other) / len(base | other)
        assert jacc > 0.5, jacc

    def test_unrelated_signals_share_nothing(self):
        a = set(fp_keys(_tone(16000, 2.0, f=440.0, seed=1), 16000))
        b = set(fp_keys(_tone(16000, 2.0, f=880.0, seed=2), 16000))
        assert len(a & b) <= 1  # chance collision at most

    def test_short_and_degenerate_inputs(self):
        assert fp_keys(np.zeros(100), 16000) == []
        assert fp_keys(np.zeros(100000), -1) == []
        assert fingerprint_bits(np.zeros(300), 16000).size == 0
        # all-silence: degenerate but defined (constant key set, no crash)
        ks = fp_keys(np.zeros(32000), 16000)
        assert all(len(k) == 4 * FP_KGRAM for k in ks)

    def test_aug_variant_is_deterministic(self):
        x = _tone(16000, 1.0)
        assert np.array_equal(aug_variant(x), aug_variant(x))


class TestSparkRecall:
    @pytest.fixture(scope="class")
    def pairs(self, spark):
        from datasmith_spark import datagen
        from datasmith_spark.operators.audio_fp import (
            audio_neardup_pairs,
            fingerprint_clips,
        )

        clips = datagen.clips_df(spark, 120, n_partitions=4)
        keys = fingerprint_clips(clips, every=2, aug_every=10)
        return audio_neardup_pairs(keys).toPandas(), keys.toPandas()

    def test_planted_augs_pair_with_their_base(self, pairs):
        got, keys = pairs
        fingerprinted = set(keys.clip_id)
        want = {
            (f"aug_{i:012d}", f"clip_{i:012d}")
            for i in range(0, 120, 10)
            if f"aug_{i:012d}" in fingerprinted
        }
        assert want, "no decodable planted augs in the sample"
        found = {tuple(sorted((a, b))) for a, b in zip(got.clip_a, got.clip_b)}
        missed = {tuple(sorted(p)) for p in want} - found
        assert not missed, missed

    def test_no_pair_between_distinct_base_clips(self, pairs):
        got, _ = pairs
        both_base = got[
            got.clip_a.str.startswith("clip_") & got.clip_b.str.startswith("clip_")
        ]
        assert len(both_base) == 0, both_base

    def test_pair_columns_are_integer_exact(self, pairs):
        got, _ = pairs
        for c in ("n_shared", "sz_a", "sz_b"):
            assert str(got[c].dtype) == "int64", (c, got[c].dtype)
        # threshold actually enforced
        union = got.sz_a + got.sz_b - got.n_shared
        assert (100 * got.n_shared >= 35 * union).all()


class TestArbitraryIds:
    def test_fingerprint_and_pairs_accept_any_clip_id(self, spark):
        """The composable default (every=1, aug_every=0) must work on
        arbitrary real-world ids — no datagen `*_<int>` suffix required.
        (r4 verdict What's wrong #1: clip_index was parsed unconditionally
        and crashed the stage on any non-datagen id.)"""
        import pandas as pd

        from datasmith_spark.operators.audio_fp import (
            audio_neardup_pairs,
            fingerprint_clips,
        )

        x = _tone(16000, 2.0)
        rows = [
            ("s3://bucket/podcast-ep01.wav", encode(x, "pcm16")),
            ("UUID-9f8e7d6c", encode(0.5 * x, "pcm16")),  # gain-scaled dup
            ("plain", encode(_tone(16000, 2.0, f=880.0, seed=7), "pcm16")),
        ]
        pdf = pd.DataFrame(
            {
                "clip_id": [r[0] for r in rows],
                "bytes": [r[1] for r in rows],
                "sr_hz": 16000,
                "dur_ms": 2000,
                "codec": "pcm16",
                "transcript": "",
            }
        )
        clips = spark.createDataFrame(pdf)
        keys = fingerprint_clips(clips)  # defaults: every=1, aug_every=0
        got = audio_neardup_pairs(keys).toPandas()
        found = {tuple(sorted((a, b))) for a, b in zip(got.clip_a, got.clip_b)}
        assert ("UUID-9f8e7d6c", "s3://bucket/podcast-ep01.wav") in found
        assert all("plain" not in p for p in found)

    def test_sampling_still_requires_indexed_ids(self):
        from datasmith_spark.operators.audio_fp import clip_index

        assert clip_index("clip_000000000042") == 42
        with pytest.raises((ValueError, IndexError)):
            clip_index("no-index-here")


class TestBallLane:
    """q40's robust lane: radius-1 Hamming-ball matching over integer
    2-gram keys — must catch the mu-law companding class the exact-key
    lane (q38) documents as out of reach, with no false pairs."""

    def test_mulaw_dup_caught_by_ball_lane_missed_by_exact_lane(self, spark):
        import pandas as pd

        from datasmith_spark.core.audio_fp import aug_mulaw_variant
        from datasmith_spark.operators.audio_fp import (
            audio_neardup_pairs,
            audio_neardup_pairs_hamming,
            fingerprint_clips,
            fingerprint_ints_clips,
        )

        x = _tone(16000, 3.0)
        rows = [
            ("s3://bucket/original.wav", encode(x, "pcm16")),  # arbitrary ids too
            ("mulaw-reupload", encode(aug_mulaw_variant(x), "pcm16")),
            ("unrelated", encode(_tone(16000, 3.0, f=700.0, seed=9), "pcm16")),
        ]
        pdf = pd.DataFrame(
            {
                "clip_id": [r[0] for r in rows],
                "bytes": [r[1] for r in rows],
                "sr_hz": 16000,
                "dur_ms": 3000,
                "codec": "pcm16",
                "transcript": "",
            }
        )
        clips = spark.createDataFrame(pdf)
        got = audio_neardup_pairs_hamming(fingerprint_ints_clips(clips)).toPandas()
        found = {tuple(sorted((a, b))) for a, b in zip(got.clip_a, got.clip_b)}
        assert ("mulaw-reupload", "s3://bucket/original.wav") in found
        assert all("unrelated" not in p for p in found)
        # the exact-key lane misses the companded copy — that asymmetry IS
        # the reason the ball lane exists; if this starts passing, the
        # division of labor documented in core/audio_fp.py is stale
        exact = audio_neardup_pairs(fingerprint_clips(clips)).toPandas()
        pairs = {tuple(sorted((a, b))) for a, b in zip(exact.clip_a, exact.clip_b)}
        assert ("mulaw-reupload", "s3://bucket/original.wav") not in pairs

    def test_hamming_ball_keys_expansion(self, spark):
        from datasmith_spark.operators.audio_fp import hamming_ball_keys

        ik = spark.createDataFrame([("a", 5), ("a", 7)], "id string, k long")
        got = hamming_ball_keys(ik).toPandas()
        ks = set(got.k)
        # contains the originals and only values within Hamming distance 1
        assert {5, 7} <= ks
        assert all(min(bin(v ^ 5).count("1"), bin(v ^ 7).count("1")) <= 1 for v in ks)
        # distinct: 5^2=7 lands in both balls but appears once per id
        assert len(got) == len(got.drop_duplicates())
        # d(5,7)=1, so the balls overlap in exactly {5,7}: 33+33-2 distinct
        assert len(ks) == 2 * 33 - 2

    def test_ball_fixture_is_honest(self):
        """The committed q40 integer-key fixture must equal a fresh
        regeneration on a deterministic clip-index sample."""
        import sys

        import pandas as pd

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_fp_ball_fixture as mbf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_fp_ball_n4000.parquet")
        lo, hi = 480, 680  # covers 50 base clips incl. 5 mulaw derivations
        fresh = mbf.oracle_rows(range(lo, hi))
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"mul_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)]
        key = lambda df: sorted(map(tuple, df[["clip_id", "fp_ikey"]].to_numpy()))
        assert key(sample) == key(fresh)

    def test_registry_has_q40(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q40_audio_fp_mulaw_neardup" in QUERIES
        assert "q40_audio_fp_mulaw_neardup" in ORACLE_SQL


class TestFixture:
    def test_fixture_is_honest(self):
        """The committed q38 key fixture must equal a fresh regeneration on
        a deterministic clip-index sample (same pattern as test_audio_ops)."""
        import sys

        import pandas as pd

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_fp_fixture as maf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_fp_n4000.parquet")
        lo, hi = 480, 680  # covers 50 base clips incl. 5 aug derivations
        fresh = maf.oracle_rows(range(lo, hi))
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"aug_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)]
        key = lambda df: sorted(map(tuple, df[["clip_id", "fp_key"]].to_numpy()))
        assert key(sample) == key(fresh)

    def test_registry_has_q38(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q38_audio_fp_neardup" in QUERIES
        assert "q38_audio_fp_neardup" in ORACLE_SQL


class TestDecontamination:
    """q80: eval-suite decontamination by fingerprint-key containment."""

    def _keys(self, spark, rows):
        return spark.createDataFrame(rows, "clip_id string, fp_key string")

    def test_containment_semantics(self, spark):
        from datasmith_spark.operators.audio_fp import decontaminate_by_eval_keys

        # eval clip e has keys {a,b,c,d}; t1 contains 3/4 (flag at 30%),
        # t2 shares 1/4 (no flag), arbitrary non-datagen ids throughout
        rows = [
            ("eval/one.wav", k) for k in "abcd"
        ] + [("train-x", k) for k in "abcz"] + [("train:y", k) for k in "a"]
        keys = self._keys(spark, rows)
        ev = spark.createDataFrame([("eval/one.wav",)], "clip_id string")
        out = decontaminate_by_eval_keys(keys, ev, num=30, den=100).collect()
        flagged = {r.clip_id: (r.n_eval_hits, r.max_shared) for r in out}
        assert flagged == {"train-x": (1, 3)}

    def test_eval_df_cap_drops_ubiquitous_keys(self, spark):
        from datasmith_spark.operators.audio_fp import decontaminate_by_eval_keys

        # key 'z' appears in both eval clips -> dropped at cap 1; e1 keeps
        # {a,b}, t shares {a} = 50% >= 30% -> flag against e1 only
        rows = (
            [("e1", k) for k in "abz"]
            + [("e2", k) for k in "cdz"]
            + [("t", k) for k in "az"]
        )
        keys = self._keys(spark, rows)
        ev = spark.createDataFrame([("e1",), ("e2",)], "clip_id string")
        out = decontaminate_by_eval_keys(keys, ev, num=30, den=100, eval_df_cap=1).collect()
        assert {r.clip_id: (r.n_eval_hits, r.max_shared) for r in out} == {"t": (1, 1)}

    def test_plan_broadcasts_eval_side(self, spark):
        from datasmith_spark.operators.audio_fp import decontaminate_by_eval_keys
        from tests.test_plans import _plan

        keys = self._keys(spark, [("a", "k1"), ("b", "k1")])
        ev = spark.createDataFrame([("a",)], "clip_id string")
        plan = _plan(decontaminate_by_eval_keys(keys, ev, num=30, den=100))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    def test_registry_has_q80(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q80_eval_decontamination" in QUERIES
        assert "q80_eval_decontamination" in ORACLE_SQL
