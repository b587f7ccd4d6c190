"""Transcript-reuse / label-reuse audit (q177): group semantics, plant
recovery, arbitrary ids, fixture honesty."""

from __future__ import annotations

import pandas as pd

from datasmith_spark.operators.audio_ops import REUSE_MIN_LEN, transcript_reuse

from .conftest import REPO

LONG_A = "this transcript is long enough to audit"
LONG_B = "a different but equally substantive line"


def _clips(spark, rows):
    return spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string"
    )


class TestSemantics:
    def test_mislabel_vs_exact_dup_vs_unique(self, spark):
        rows = [
            # label reuse: same transcript, two distinct payloads
            ("a1", b"\x01\x02", 16000, 10, "pcm16", LONG_A),
            ("a2", b"\x03\x04", 16000, 10, "pcm16", LONG_A),
            # true duplicate: same transcript, same payload
            ("b1", b"\x05\x06", 16000, 10, "pcm16", LONG_B),
            ("b2", b"\x05\x06", 16000, 10, "pcm16", LONG_B),
            # unique transcript: not emitted
            ("c1", b"\x07\x08", 16000, 10, "pcm16", LONG_A.replace("audit", "pass")),
            # short transcript repeats are excluded by the length floor
            ("d1", b"\x09", 16000, 10, "pcm16", "yes"),
            ("d2", b"\x0a", 16000, 10, "pcm16", "yes"),
            ("e1", b"\x0b", 16000, 10, "pcm16", None),
        ]
        got = transcript_reuse(_clips(spark, rows)).toPandas()
        assert len(got) == 2
        by = {r.n_distinct_audio: r for r in got.itertuples()}
        assert by[2].mislabel and not by[2].exact_dup and by[2].n_clips == 2
        assert by[1].exact_dup and not by[1].mislabel and by[1].n_clips == 2

    def test_min_len_matches_constant(self, spark):
        at = "x" * REUSE_MIN_LEN
        below = "x" * (REUSE_MIN_LEN - 1)
        rows = [
            ("a1", b"\x01", 16000, 10, "pcm16", at),
            ("a2", b"\x02", 16000, 10, "pcm16", at),
            ("b1", b"\x03", 16000, 10, "pcm16", below),
            ("b2", b"\x04", 16000, 10, "pcm16", below),
        ]
        got = transcript_reuse(_clips(spark, rows)).toPandas()
        assert len(got) == 1 and got.mislabel.all()

    def test_planting_arbitrary_ids(self, spark):
        # ids with no datagen shape: the crc selection must not crash and
        # every planted twin produces a 2-clip mislabel group
        rows = [
            (f"s3://bucket/path {i}.wav", bytes([i]) * 8, 16000, 10, "pcm16",
             f"substantive transcript number {i:04d}")
            for i in range(80)
        ]
        got = transcript_reuse(_clips(spark, rows), plant_every=4).toPandas()
        assert len(got) >= 5  # ~1/4 of 80 ids selected by crc
        assert got.mislabel.all() and (got.n_clips == 2).all()
        assert (got.n_distinct_audio == 2).all()

    def test_fixture_is_honest(self):
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_reuse_fixture as mrf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_reuse_n4000.parquet")
        fresh = mrf.oracle_rows(4000)
        a = fix.sort_values("transcript_md5").reset_index(drop=True)
        b = fresh.sort_values("transcript_md5").reset_index(drop=True)
        assert len(a) == len(b) > 0
        for c in b.columns:
            assert (a[c].astype(str) == b[c].astype(str)).all(), c

    def test_registry_has_q177(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q177_transcript_reuse" in QUERIES and "q177_transcript_reuse" in ORACLE_SQL
