"""VAD/trim/clipping kernel + Spark scans + q42/q43 text-quality ops."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.core.audio import decode, encode
from datasmith_spark.core.vad import ACTIVE_DB, FRAME_MS, vad_keep, vad_metrics
from datasmith_spark.operators.scan_decode import CLIP_COLUMNS

from .conftest import REPO, write_rows


def _padded_tone(sr: int, lead_s: float, tone_s: float, tail_s: float,
                 amp: float = 0.5, freq: float = 440.0) -> np.ndarray:
    t = np.arange(int(sr * tone_s), dtype=np.float64) / sr
    tone = amp * np.sin(2 * np.pi * freq * t)
    return np.concatenate(
        [np.zeros(int(sr * lead_s)), tone, np.zeros(int(sr * tail_s))]
    )


class TestVadKernel:
    def test_trim_bounds_on_padded_tone(self):
        sr = 16000
        x = _padded_tone(sr, 0.5, 1.0, 0.25)
        ns, nf, na, t0, t1, nc = vad_metrics(x, sr)
        assert ns == x.size
        assert nf == x.size // (sr * 20 // 1000)
        # trim points land on the tone boundaries within one 20 ms frame
        assert abs(t0 - 500) <= 20
        assert abs(t1 - 1500) <= 20
        assert nc == 0
        # active frames ≈ tone duration
        assert abs(na * 20 - 1000) <= 40

    def test_all_silence_and_empty(self):
        assert vad_metrics(np.zeros(16000), 16000) == (16000, 50, 0, None, None, 0)
        assert vad_metrics(None, 16000) == (0, 0, 0, None, None, 0)
        assert vad_metrics(np.zeros(0), 16000) == (0, 0, 0, None, None, 0)
        # clip shorter than one frame: no frames, no activity
        assert vad_metrics(np.ones(10), 16000)[1] == 0

    def test_clipping_counts(self):
        sr = 1000
        x = np.concatenate([np.full(40, 0.9995), np.full(60, -1.0), np.full(100, 0.5)])
        nc = vad_metrics(x, sr)[5]
        assert nc == 100  # both rails count, 0.5 does not

    def test_threshold_is_amplitude_gate(self):
        sr = 8000
        quiet = 0.005 * np.ones(sr)   # -46 dBFS < -35 floor
        loud = 0.05 * np.ones(sr)     # -26 dBFS > -35 floor
        assert vad_metrics(quiet, sr)[2] == 0
        assert vad_metrics(loud, sr)[2] == vad_metrics(loud, sr)[1]

    def test_keep_rule_edges(self):
        assert vad_keep(True, 1000, 10, 2, 10)        # exactly 20% / 1%
        assert not vad_keep(True, 1000, 10, 1, 0)     # 10% active
        assert not vad_keep(True, 1000, 10, 10, 11)   # 1.1% clipped
        assert not vad_keep(True, 0, 0, 0, 0)         # no frames
        assert not vad_keep(False, 1000, 10, 10, 0)   # undecodable


class TestVadSpark:
    @pytest.fixture(scope="class")
    def clips(self, tmp_path_factory):
        from datasmith_spark.datagen import clips_pdf

        pdf = clips_pdf(120)
        return pdf, write_rows(tmp_path_factory.mktemp("clips"), pdf)

    def test_matches_single_process(self, spark, clips):
        from datasmith_spark.core.audio import decode
        from datasmith_spark.operators.audio_ops import vad_trim_scan

        pdf, path = clips
        out = vad_trim_scan(spark, path).toPandas().set_index("clip_id").sort_index()
        src = pdf.set_index("clip_id").sort_index()
        assert len(out) == len(src)
        assert out.ok.sum() > 100  # most clips decode
        for cid, row in src.iterrows():
            sr = None if pd.isna(row.sr_hz) else int(row.sr_hz)
            pcm = decode(row.bytes, row.codec) if sr and sr > 0 else None
            ok = pcm is not None
            ns, nf, na, t0, t1, nc = vad_metrics(pcm, sr if ok else 0)
            got = out.loc[cid]
            assert bool(got.ok) == ok, cid
            assert (got.n_samples, got.n_frames, got.n_active, got.n_clipped) == (
                ns, nf, na, nc), cid
            assert (None if pd.isna(got.trim_start_ms) else int(got.trim_start_ms)) == t0
            assert (None if pd.isna(got.trim_end_ms) else int(got.trim_end_ms)) == t1
            assert bool(got.keep) == vad_keep(ok, ns, nf, na, nc), cid

    def test_arbitrary_clip_ids(self, spark, tmp_path):
        """Real-world ids (no datagen `_<int>` suffix) must work — the exact
        failure mode of the r4 audio_fp defect (VERDICT r4 What's wrong #1)."""
        from datasmith_spark.operators.audio_ops import vad_trim_scan

        rows = [
            ("s3://bucket/weird id!.wav", encode(_padded_tone(8000, 0.1, 0.3, 0.1), "pcm16"),
             8000, 500, "pcm16", "hi"),
            ("no-suffix", b"\x00", 16000, 10, "pcm16", ""),  # misaligned -> ok=false
            ("unicode-ид", encode(np.zeros(1600), "mulaw"), 16000, 100, "mulaw", "x"),
        ]
        path = write_rows(tmp_path, pd.DataFrame(rows, columns=CLIP_COLUMNS))
        out = vad_trim_scan(spark, path).toPandas().set_index("clip_id")
        assert bool(out.loc["s3://bucket/weird id!.wav"].ok)
        assert not bool(out.loc["no-suffix"].ok)
        assert bool(out.loc["unicode-ид"].ok)
        assert int(out.loc["unicode-ид"].n_active) == 0  # silence

    def test_batch_size_invariance(self, clips):
        """The kernel is row-wise: any split of the batch gives the same rows."""
        from datasmith_spark.operators.audio_ops import _vad_pdf

        pdf, _ = clips
        whole = _vad_pdf(pdf, FRAME_MS, ACTIVE_DB)
        parts = pd.concat(
            [_vad_pdf(pdf.iloc[i : i + 7], FRAME_MS, ACTIVE_DB) for i in range(0, len(pdf), 7)],
            ignore_index=True,
        )
        pd.testing.assert_frame_equal(whole, parts)

    def test_vad_fixture_is_honest(self):
        """The committed q41 fixture must equal a fresh regeneration on a
        deterministic row sample (same protocol as the q36/q37 fixture)."""
        import sys

        sys.path.insert(0, f"{REPO}/scripts")
        import make_audio_vad_fixture as mvf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_audio_vad_n4000.parquet")
        assert len(fix) == 4000
        assert 0 < fix.keep.sum() < 4000  # the rule actually splits the corpus
        idx = list(range(0, 4000, 29))
        fresh = mvf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        for c in fresh.columns:
            a = sample[c].astype("object").where(sample[c].notna(), "<null>").astype(str)
            b = fresh[c].astype("object").where(fresh[c].notna(), "<null>").astype(str)
            assert (a == b).all(), c


class TestTrimSpark:
    def test_trim_is_lossless_byte_cut(self, spark, tmp_path):
        import hashlib

        from datasmith_spark.core.vad import active_span_samples
        from datasmith_spark.operators.audio_ops import _trim_pdf, trim_digest_scan

        sr = 8000
        x = _padded_tone(sr, 0.5, 1.0, 0.25)
        rows = [
            ("tone", encode(x, "pcm16"), sr, 1750, "pcm16", "t"),
            ("tone-mulaw", encode(x, "mulaw"), sr, 1750, "mulaw", "t"),
            ("silent", encode(np.zeros(sr), "pcm16"), sr, 1000, "pcm16", "s"),
            ("broken", b"\x00", sr, 10, "pcm16", "b"),
        ]
        pdf = pd.DataFrame(rows, columns=CLIP_COLUMNS)
        out = _trim_pdf(pdf, FRAME_MS, ACTIVE_DB, False).set_index("clip_id")
        src = {r[0]: r[1] for r in rows}
        # trimmed payload is an exact byte slice of the source (lossless)
        for cid, codec, isz in (("tone", "pcm16", 2), ("tone-mulaw", "mulaw", 1)):
            got = out.loc[cid]
            assert bool(got.trimmed)
            lo, hi = active_span_samples(decode(src[cid], codec), sr)
            assert bytes(got.bytes) == src[cid][lo * isz : hi * isz]
            assert abs(int(got.dur_ms) - 1000) <= 40  # ≈ tone length
        # passthrough rows byte-identical, trimmed=false
        for cid in ("silent", "broken"):
            assert not bool(out.loc[cid].trimmed)
            assert bytes(out.loc[cid].bytes) == src[cid]
        # the Spark scan emits the digests of exactly these payloads
        dig = trim_digest_scan(spark, write_rows(tmp_path, pdf)).toPandas().set_index("clip_id")
        for cid, row in out.iterrows():
            assert dig.loc[cid].payload_md5 == hashlib.md5(bytes(row.bytes)).hexdigest(), cid
            assert bool(dig.loc[cid].trimmed) == bool(row.trimmed), cid

    def test_digest_mode_matches_bytes_mode(self):
        import hashlib

        from datasmith_spark.datagen import clips_pdf
        from datasmith_spark.operators.audio_ops import _trim_pdf

        clips = clips_pdf(60)
        full = _trim_pdf(clips, FRAME_MS, ACTIVE_DB, False).set_index("clip_id")
        dig = _trim_pdf(clips, FRAME_MS, ACTIVE_DB, True).set_index("clip_id")
        assert len(full) == len(dig) == 60
        for cid, row in full.iterrows():
            assert dig.loc[cid].payload_md5 == hashlib.md5(bytes(row.bytes)).hexdigest()
            assert bool(dig.loc[cid].trimmed) == bool(row.trimmed)


class TestTextQuality:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_gopher_keep_and_metrics(self, spark):
        from datasmith_spark.operators.text_analysis import gopher_quality

        good = " ".join([f"wd{i:02d}" for i in range(38)] + ["the", "and"])
        short = "only ten tiny words here not nearly enough to pass"
        spammy = " ".join(["the", "and"] + ["spam"] * 58)
        out = (
            gopher_quality(self._docs(spark, [(1, good), (2, short), (3, spammy)]))
            .toPandas().set_index("doc_id")
        )
        g = out.loc[1]
        assert (int(g.n_words), int(g.n_uniq_words)) == (40, 40)
        assert int(g.sum_word_len) == 38 * 4 + 6
        assert int(g.n_stop) >= 2 and bool(g.keep)
        assert not bool(out.loc[2].keep)          # word count < 30
        s = out.loc[3]
        assert int(s.n_uniq_words) == 3 and not bool(s.keep)  # repetition cap

    def test_contamination_hits(self, spark):
        from datasmith_spark.operators.text_analysis import contamination_hits

        rows = [
            (0, "alpha beta gamma delta"),        # benchmark (0 % 53 == 0)
            (53, "one two three four"),           # benchmark
            (7, "x alpha beta gamma y"),          # shares one 3-gram with doc 0
            (8, "p q r s"),                       # shares nothing
            (9, "so sh"),                         # too short for any 3-gram
        ]
        out = contamination_hits(self._docs(spark, rows), n=3, bench_mod=53)
        got = {int(r.doc_id): int(r.n_hits) for r in out.collect()}
        assert got == {7: 1}

    def test_registry_has_quality_queries(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        for q in (
            "q41_audio_vad_trim",
            "q42_gopher_quality",
            "q43_contamination_ngrams",
            "q44_trim_silence",
            "q45_stratified_sample",
        ):
            assert q in QUERIES and q in ORACLE_SQL
