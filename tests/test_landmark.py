"""Constellation-landmark shift-invariant audio dedup (q157): kernel
equivariances, Spark recall of planted DELAYED duplicates, arbitrary-id
composability, pooling/dominance verdict semantics, stop-hash exclusion,
plan shape, and fixture honesty."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.core.audio import encode
from datasmith_spark.core.landmark import (
    LM_DT_MAX,
    LM_FANOUT,
    LM_HOP,
    LM_PEAKS_PER_FRAME,
    delayed_variant16,
    landmark_hashes16,
    landmark_peaks16,
    plant_delay,
    spectrogram16,
)

from .conftest import REPO


def _sig(secs: float = 2.0, seed: int = 11) -> np.ndarray:
    """Harmonically-rich deterministic test signal at 16 kHz."""
    rng = np.random.default_rng(seed)
    t = np.arange(int(16000 * secs)) / 16000.0
    x = (
        0.5 * np.sin(2 * np.pi * 440 * t)
        + 0.3 * np.sin(2 * np.pi * 1330 * (1 + 0.02 * np.sin(2 * np.pi * 0.7 * t)) * t)
        + 0.1 * np.sin(2 * np.pi * 3100 * t)
    )
    return x + 0.03 * rng.standard_normal(t.size)


def _bracket_ok(est_dt: int, true_frames: float) -> bool:
    """The winning bracket [est_dt, est_dt+1] must contain the fractional
    true offset to within half a frame (near-integer phases legitimately
    resolve to either adjacent bracket)."""
    return est_dt - 0.5 <= true_frames <= est_dt + 1.5


class TestKernel:
    def test_translation_equivariance_exact(self):
        """Prepending m*LM_HOP zeros + a power-of-two gain translates every
        landmark with anchor t>=1 EXACTLY by m frames (the module's core
        shift-invariance claim; t=0 anchors may gain boundary neighbours)."""
        x = _sig()
        base = [(h, t) for h, t in landmark_hashes16(x) if t >= 1]
        assert len(base) > 100
        for m in (1, 7, 36):
            y = np.concatenate([np.zeros(m * LM_HOP), 0.5 * x])
            shifted = set(landmark_hashes16(y))
            missing = [(h, t) for h, t in base if (h, t + m) not in shifted]
            assert not missing, (m, missing[:5])

    def test_gain_equivariance_of_spectrogram(self):
        """Power-of-two gain rescales the power spectrogram by an exact
        factor, so the peak set is bit-identical."""
        x = _sig()
        assert np.array_equal(spectrogram16(0.5 * x) * 4.0, spectrogram16(x))
        assert np.array_equal(landmark_peaks16(0.25 * x), landmark_peaks16(x))

    def test_peak_density_and_hash_layout(self):
        x = _sig()
        pk = landmark_peaks16(x)
        _, counts = np.unique(pk[:, 0], return_counts=True)
        assert counts.max() <= LM_PEAKS_PER_FRAME
        hs = landmark_hashes16(x)
        # fanout bound: at most LM_FANOUT hashes per anchor (t, f1) slot
        per_anchor = pd.Series([(h >> 15, t) for h, t in hs]).value_counts()
        assert per_anchor.max() <= LM_FANOUT
        for h, t in hs:
            dt = h & 0x3F
            assert 1 <= dt <= LM_DT_MAX and t >= 0
            assert 0 <= (h >> 15) <= 256 and 0 <= ((h >> 6) & 0x1FF) <= 256

    def test_silence_and_short_inputs(self):
        assert landmark_hashes16(np.zeros(32000)) == []
        assert landmark_hashes16(np.zeros(10)) == []
        assert landmark_hashes16(np.array([])) == []

    def test_arbitrary_phase_delay_recovers_offset_bracket(self):
        """Full plant at NON-hop-multiple delays (delay + 0.6 gain + pcm16
        requant): adjacent-pooled votes must concentrate on the bracket of
        the fractional true offset, with a wide margin over every
        non-adjacent offset (the dominance property the verdict uses)."""
        from collections import Counter

        x = _sig(secs=3.0)
        hs = landmark_hashes16(x)
        src: dict[int, list[int]] = {}
        for h, t in hs:
            src.setdefault(h, []).append(t)
        for d in (100, 300, 777, 1000):
            dup = landmark_hashes16(delayed_variant16(x, d))
            votes: Counter = Counter()
            for h, t in dup:
                for ts in src.get(h, []):
                    votes[t - ts] += 1
            pooled = {dt: v + votes.get(dt + 1, 0) for dt, v in votes.items()}
            best_dt, best_v = max(pooled.items(), key=lambda kv: (kv[1], -kv[0]))
            assert _bracket_ok(best_dt, d / LM_HOP), (d, best_dt)
            side = max(
                (v for dt, v in pooled.items() if abs(dt - best_dt) > 1), default=0
            )
            assert 5 * best_v >= 11 * max(side, 1), (d, best_v, side)

    def test_plant_delay_is_id_hash(self):
        assert 16 <= plant_delay("s3://x/y.wav") <= 1215
        assert plant_delay("x") == plant_delay("x")
        # not hop-aligned in general
        assert any(plant_delay(f"id{i}") % LM_HOP for i in range(8))


class TestSparkRecall:
    @pytest.fixture(scope="class")
    def matched(self, spark):
        from datasmith_spark import datagen
        from datasmith_spark.operators.landmark import landmark_clips, landmark_match

        clips = datagen.clips_df(spark, 240, n_partitions=4)
        keys = landmark_clips(clips, every=2, aug_every=40)
        return landmark_match(keys).toPandas(), keys.toPandas()

    def test_planted_delayed_dups_recovered_in_offset_bracket(self, matched):
        got, keys = matched
        landmarked = set(keys.clip_id)
        want = {
            (f"clip_{i:012d}", f"del_{i:012d}")
            for i in range(0, 240, 40)
            if f"del_{i:012d}" in landmarked
        }
        assert want, "no decodable planted dups in the sample"
        found = {(a, b): dt for a, b, dt in zip(got.clip_a, got.clip_b, got.est_dt)}
        for a, b in want:
            assert (a, b) in found, (a, b, found)
            assert _bracket_ok(found[(a, b)], plant_delay(a) / LM_HOP), (
                a,
                found[(a, b)],
                plant_delay(a) / LM_HOP,
            )

    def test_no_pair_between_distinct_base_clips(self, matched):
        """The dominance verdict kills stationary-tone coincidences: on this
        sample no base-base pair survives."""
        got, _ = matched
        both_base = got[got.clip_a.str.startswith("clip_") & got.clip_b.str.startswith("clip_")]
        assert len(both_base) == 0, both_base

    def test_output_columns_integer_exact(self, matched):
        got, _ = matched
        assert str(got.votes.dtype) == "int64"
        assert str(got.side_votes.dtype) == "int64"
        assert str(got.est_dt.dtype) == "int32"
        assert (5 * got.votes >= 11 * got.side_votes).all()

    def test_aligned_lanes_miss_the_arbitrary_phase_dup(self):
        """The motivating gap: the SAME delayed plant loses essentially all
        of q38's frame-aligned exact keys at a non-hop-multiple delay (so
        q157 is a new capability, not a re-skin). Hop-MULTIPLE delays are
        survivable by q38's position-free k-gram key SET — it is the
        sub-hop phase that kills it."""
        from datasmith_spark.core.audio_fp import fp_keys

        x = _sig(secs=3.0)
        for d in (100, 777, 1000):
            dup = delayed_variant16(x, d)
            a = set(fp_keys(x, 16000))
            b = set(fp_keys(dup, 16000))
            assert a and b
            jacc = len(a & b) / len(a | b)
            assert jacc < 0.1, (d, jacc)  # far below q38's 0.35 pair threshold


class TestArbitraryIds:
    def test_landmark_and_match_accept_any_clip_id(self, spark):
        """Composable default (every=1, aug_every=0) on arbitrary ids: a
        delayed+attenuated re-upload under an unrelated id must pair with
        its source at the right offset bracket."""
        from datasmith_spark.operators.landmark import landmark_clips, landmark_match

        x = _sig(secs=3.0)
        dup = delayed_variant16(x, 777)
        pdf = pd.DataFrame(
            {
                "clip_id": ["s3://bucket/podcast-ep01.wav", "UUID-9f8e7d6c", "plain"],
                "bytes": [
                    encode(x, "pcm16"),
                    encode(dup, "pcm16"),
                    encode(_sig(secs=2.0, seed=7), "pcm16"),
                ],
                "sr_hz": 16000,
                "dur_ms": [3000, 3000, 2000],
                "codec": "pcm16",
                "transcript": "",
            }
        )
        keys = landmark_clips(spark.createDataFrame(pdf))
        got = landmark_match(keys).toPandas()
        rows = {(a, b): dt for a, b, dt in zip(got.clip_a, got.clip_b, got.est_dt)}
        pair = ("UUID-9f8e7d6c", "s3://bucket/podcast-ep01.wav")
        assert pair in rows
        # dup is clip_a, so the offset is measured source-minus-dup
        assert _bracket_ok(rows[pair], -777 / LM_HOP), rows[pair]
        assert all("plain" not in p for p in rows)


class TestMatchSemantics:
    def _keys(self, spark, rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["clip_id", "lm_hash", "t"])
        ).selectExpr("clip_id", "cast(lm_hash as long) lm_hash", "cast(t as int) t")

    def test_stop_hash_exclusion(self, spark):
        """Hashes hotter than the cap are EXCLUDED: a pair glued together
        only by a degenerate hot hash yields no votes."""
        from datasmith_spark.operators.landmark import landmark_match

        rows = [("c%03d" % i, 7, 0) for i in range(60)]  # hash 7 held by 60 clips
        rows += [("c000", 900 + j, j) for j in range(30)]
        rows += [("c001", 900 + j, 5 + j) for j in range(30)]  # true dup at dt=5
        got = landmark_match(self._keys(spark, rows), min_votes=20, cap=50).toPandas()
        assert len(got) == 1
        r = got.iloc[0]
        assert (r.clip_a, r.clip_b, r.votes, r.side_votes, r.est_dt) == (
            "c000",
            "c001",
            30,
            0,
            5,
        )

    def test_adjacent_offsets_pool(self, spark):
        """Evidence split between bracketing offsets (the sub-hop-phase
        case) pools into one winning score at the lower edge."""
        from datasmith_spark.operators.landmark import landmark_match

        rows = [("a", h, 0) for h in (1, 2, 3, 4)]
        rows += [("b", 1, 3), ("b", 2, 3), ("b", 3, 4), ("b", 4, 4)]
        got = landmark_match(self._keys(spark, rows), min_votes=4).toPandas()
        assert len(got) == 1
        r = got.iloc[0]
        assert (r.votes, r.side_votes, r.est_dt) == (4, 0, 3)

    def test_dominance_rejects_multi_offset_agreement(self, spark):
        """Equal vote mass at two far-apart offsets (stationary tonal
        coincidence shape) fails the peak-to-sidelobe test even above
        min_votes."""
        from datasmith_spark.operators.landmark import landmark_match

        rows = [("a", h, 0) for h in (1, 2, 3, 4)]
        rows += [("b", 1, 3), ("b", 2, 3), ("b", 3, 30), ("b", 4, 30)]
        got = landmark_match(self._keys(spark, rows), min_votes=1).toPandas()
        assert len(got) == 0, got

    def test_plan_has_no_nested_loop(self, spark):
        from datasmith_spark.operators.landmark import landmark_match

        keys = self._keys(spark, [("a", 1, 0)])
        plan = landmark_match(keys)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestFixture:
    def test_fixture_is_honest(self):
        """The committed q157 landmark fixture must equal a fresh
        regeneration on a deterministic clip-index sample."""
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_lm_fixture as mal

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_lm_n4000.parquet")
        lo, hi = 480, 680  # covers 25 base clips incl. 5 del_ derivations
        fresh = mal.oracle_rows(range(lo, hi))
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"del_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)]
        key = lambda df: sorted(map(tuple, df[["clip_id", "lm_hash", "t"]].to_numpy()))
        assert key(sample) == key(fresh)

    def test_registry_has_q157(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q157_landmark_shift_neardup" in QUERIES
        assert "q157_landmark_shift_neardup" in ORACLE_SQL


class TestSnippetLookup:
    """q158: query-by-snippet retrieval (landmark_lookup)."""

    def test_snippet_retrieves_source_and_position(self, spark):
        """Three indexed tracks under arbitrary ids; a 1-second cut of one
        of them (gain 0.6 + requant, non-hop-aligned position) must
        retrieve that track at the right position bracket, confidently."""
        from datasmith_spark.core.audio import decode
        from datasmith_spark.operators.landmark import landmark_clips, landmark_lookup

        tracks = {
            "s3://lib/track-A.wav": _sig(secs=3.0, seed=1),
            "s3://lib/track-B.wav": _sig(secs=3.0, seed=2),
            "s3://lib/track-C.wav": _sig(secs=3.0, seed=3),
        }
        cut_at = 7777  # samples, deliberately not a hop multiple
        snip = 0.6 * tracks["s3://lib/track-B.wav"][cut_at : cut_at + 16000]
        snip = decode(encode(snip, "pcm16"), "pcm16")
        novel = 0.6 * _sig(secs=1.0, seed=99)  # probe with NO indexed source

        def clips(rows):
            return spark.createDataFrame(
                pd.DataFrame(
                    {
                        "clip_id": [r[0] for r in rows],
                        "bytes": [encode(r[1], "pcm16") for r in rows],
                        "sr_hz": 16000,
                        "dur_ms": [len(r[1]) * 1000 // 16000 for r in rows],
                        "codec": "pcm16",
                        "transcript": "",
                    }
                )
            )

        index_keys = landmark_clips(clips(list(tracks.items())))
        probe_keys = landmark_clips(clips([("query-1", snip), ("query-x", novel)]))
        got = landmark_lookup(index_keys, probe_keys).toPandas().set_index("probe_id")
        r = got.loc["query-1"]
        assert r.match_id == "s3://lib/track-B.wav"
        assert _bracket_ok(r.est_pos, cut_at / LM_HOP), (r.est_pos, cut_at / LM_HOP)
        assert bool(r.confident)
        if "query-x" in got.index:  # accidental weak matches must not be confident
            assert not bool(got.loc["query-x"].confident), got.loc["query-x"]

    def test_lookup_always_returns_argmax_per_probe(self, spark):
        """Retrieval never drops a probe below threshold — it returns the
        argmax row with confident=false (ambiguous two-candidate tie)."""
        from datasmith_spark.operators.landmark import landmark_lookup

        idx = [("trackA", h, 5) for h in (1, 2, 3)] + [("trackB", h, 9) for h in (1, 2, 3)]
        pr = [("q", h, 0) for h in (1, 2, 3)]
        mk = lambda rows: (
            pytest.importorskip("pandas"),
            spark.createDataFrame(
                pd.DataFrame(rows, columns=["clip_id", "lm_hash", "t"])
            ).selectExpr("clip_id", "cast(lm_hash as long) lm_hash", "cast(t as int) t"),
        )[1]
        got = landmark_lookup(mk(idx), mk(pr), min_votes=1).toPandas()
        assert len(got) == 1
        r = got.iloc[0]
        # deterministic tie-break: lexicographically smaller match id wins
        assert (r.probe_id, r.match_id, r.votes, r.side_votes, r.est_pos) == (
            "q",
            "trackA",
            3,
            3,
            5,
        )
        assert not bool(r.confident)

    def test_planted_probe_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_snip_fixture as mas

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_snip_n4000.parquet")
        lo, hi = 400, 720  # covers 8 snip_ derivations
        fresh = mas.oracle_rows(range(lo, hi))
        ids = {f"snip_{i:012d}" for i in range(lo, hi)}
        sample = fix[fix.clip_id.isin(ids)]
        key = lambda df: sorted(map(tuple, df[["clip_id", "lm_hash", "t"]].to_numpy()))
        assert key(sample) == key(fresh)

    def test_registry_has_q158(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q158_landmark_snippet_lookup" in QUERIES
        assert "q158_landmark_snippet_lookup" in ORACLE_SQL

    def test_probe_rows_accept_arbitrary_ids(self):
        """Composable probe derivation (every=1) must not parse the id."""
        from datasmith_spark.operators.landmark import _lm_probe_rows

        x = _sig(secs=2.0)
        pdf = pd.DataFrame(
            {
                "clip_id": ["s3://bucket/meeting.wav"],
                "bytes": [encode(x, "pcm16")],
                "sr_hz": [16000],
                "dur_ms": [2000],
                "codec": ["pcm16"],
                "transcript": [""],
            }
        )
        out = _lm_probe_rows(pdf, every=1)
        assert len(out) > 50
        assert set(out.clip_id) == {"snip_s3://bucket/meeting.wav"}


class TestNoiseLane:
    """q161: the additive-noise cell of the robustness matrix, recovered by
    the UNCHANGED landmark match (noisy_variant16 plants at 30 dB SNR)."""

    @pytest.fixture(scope="class")
    def matched(self, spark):
        from datasmith_spark import datagen
        from datasmith_spark.operators.landmark import landmark_match, landmark_noise_clips

        clips = datagen.clips_df(spark, 240, n_partitions=4)
        keys = landmark_noise_clips(clips, every=2, aug_every=40)
        return landmark_match(keys).toPandas(), keys.toPandas()

    def test_planted_noisy_dups_recovered_aligned(self, matched):
        got, keys = matched
        landmarked = set(keys.clip_id)
        want = {
            (f"clip_{i:012d}", f"nz_{i:012d}")
            for i in range(0, 240, 40)
            if f"nz_{i:012d}" in landmarked
        }
        assert want, "no decodable planted dups in the sample"
        found = {(a, b): dt for a, b, dt in zip(got.clip_a, got.clip_b, got.est_dt)}
        for a, b in want:
            assert (a, b) in found, (a, b, found)
            # no time shift: the winning bracket must cover offset 0
            assert _bracket_ok(found[(a, b)], 0.0), (a, found[(a, b)])

    def test_no_pair_between_distinct_base_clips(self, matched):
        got, _ = matched
        both_base = got[got.clip_a.str.startswith("clip_") & got.clip_b.str.startswith("clip_")]
        assert len(both_base) == 0, both_base

    def test_noisy_variant_is_deterministic_and_noisy(self):
        from datasmith_spark.core.landmark import LM_AUG_GAIN, noisy_variant16

        x = _sig(secs=2.0)
        y = noisy_variant16(x, "abc")
        assert y is not None and y.size == x.size
        assert np.array_equal(y, noisy_variant16(x, "abc"))
        assert not np.array_equal(y, noisy_variant16(x, "other-id"))
        # SNR of the planted variant vs the scaled source is ~30 dB
        e_sig = float((LM_AUG_GAIN * x) @ (LM_AUG_GAIN * x))
        r = y - LM_AUG_GAIN * x
        e_noise = float(r @ r)
        snr = 10 * np.log10(e_sig / e_noise)
        assert 29.0 <= snr <= 31.0, snr
        assert noisy_variant16(np.zeros(16000), "abc") is None  # silent input

    def test_arbitrary_ids_composable(self, spark):
        """Composable default (every=1, aug_every=0) must accept real-world
        ids; with aug on and sampled ids, nz_ plants pair with sources."""
        from datasmith_spark.core.landmark import noisy_variant16
        from datasmith_spark.operators.landmark import landmark_match, landmark_noise_clips

        x = _sig(secs=3.0)
        noisy = noisy_variant16(x, "any-key")
        pdf = pd.DataFrame(
            {
                "clip_id": ["s3://b/episode 7.flac", "UUID-1234-noisy", "plain"],
                "bytes": [
                    encode(x, "pcm16"),
                    encode(noisy, "pcm16"),
                    encode(_sig(secs=2.0, seed=7), "pcm16"),
                ],
                "sr_hz": 16000,
                "dur_ms": [3000, 3000, 2000],
                "codec": "pcm16",
                "transcript": "",
            }
        )
        keys = landmark_noise_clips(spark.createDataFrame(pdf))
        got = landmark_match(keys).toPandas()
        rows = {(a, b): dt for a, b, dt in zip(got.clip_a, got.clip_b, got.est_dt)}
        assert ("UUID-1234-noisy", "s3://b/episode 7.flac") in rows
        assert all("plain" not in p for pair in rows for p in pair)

    def test_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_lmnz_fixture as mnz

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_lmnz_n4000.parquet")
        lo, hi = 480, 680
        fresh = mnz.oracle_rows(range(lo, hi))
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"nz_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)]
        key = lambda df: sorted(map(tuple, df[["clip_id", "lm_hash", "t"]].to_numpy()))
        assert key(sample) == key(fresh)

    def test_registry_has_q161(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q161_landmark_noise_neardup" in QUERIES
        assert "q161_landmark_noise_neardup" in ORACLE_SQL
