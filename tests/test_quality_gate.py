"""Fused five-lane quality gate (q167): per-lane agreement with the
standalone lanes, conjunction semantics, arbitrary ids."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from datasmith_spark.core.audio import encode

from .conftest import write_rows


class TestQualityGate:
    @pytest.fixture(scope="class")
    def gate(self, spark, tmp_path_factory):
        from datasmith_spark import datagen
        from datasmith_spark.operators.audio_ops import quality_gate_scan

        path = write_rows(tmp_path_factory.mktemp("clips"), datagen.clips_pdf(160))
        return path, quality_gate_scan(spark, path).toPandas().set_index("clip_id")

    def test_lanes_agree_with_standalone_operators(self, spark, gate):
        """Fusion must not change a single verdict: each lane column equals
        the standalone lane's output on the same clips."""
        from datasmith_spark.core.vad import Q41_ACTIVE_DB
        from datasmith_spark.operators.audio_ops import (
            integrity_scan,
            spectral_quality_scan,
            speaking_rate_scan,
            vad_trim_scan,
        )
        from datasmith_spark.operators.text_analysis import transcript_compressibility

        path, g = gate
        vad = {
            r.clip_id: r.keep
            for r in vad_trim_scan(spark, path, active_db=Q41_ACTIVE_DB).collect()
        }
        spec = {r.clip_id: r.keep for r in spectral_quality_scan(spark, path).collect()}
        rate = {r.clip_id: r.rate_keep for r in speaking_rate_scan(spark, path).collect()}
        integ = {r.clip_id: r.keep for r in integrity_scan(spark, path).collect()}
        text = {
            r.clip_id: r.keep
            for r in transcript_compressibility(spark.read.parquet(path)).collect()
        }
        for cid, row in g.iterrows():
            assert row.vad_keep == vad[cid], cid
            assert row.spectral_keep == spec[cid], cid
            assert row.rate_keep == rate[cid], cid
            assert row.integrity_keep == (integ[cid] if row.ok else False), cid
            assert row.text_keep == text[cid], cid

    def test_keep_is_conjunction(self, gate):
        _, g = gate
        want = (
            g.ok & g.vad_keep & g.spectral_keep & g.rate_keep
            & g.integrity_keep & g.text_keep
        )
        assert (g.keep == want).all()
        assert (~g.loc[~g.ok, "keep"]).all()
        # the gate neither keeps nor drops every clip
        assert 0 < g.keep.sum() < len(g)

    def test_arbitrary_ids(self, spark, tmp_path):
        from datasmith_spark.operators.audio_ops import quality_gate_scan

        t = np.arange(16000) / 16000.0
        x = 0.5 * np.sin(2 * np.pi * 440 * t)
        rows = [
            ("s3://b/x y.wav", encode(x, "pcm16"), 16000, "pcm16",
             "a perfectly ordinary transcript with plenty of words to pass"),
            ("broken", b"\x01", None, "pcm16", "whatever"),
        ]
        pdf = pd.DataFrame(rows, columns=["clip_id", "bytes", "sr_hz", "codec", "transcript"])
        got = {r.clip_id: r for r in quality_gate_scan(spark, write_rows(tmp_path, pdf)).collect()}
        assert got["s3://b/x y.wav"].ok
        assert not got["broken"].ok and not got["broken"].keep

    def test_registry_has_q167(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q167_quality_gate" in QUERIES and "q167_quality_gate" in ORACLE_SQL


class TestGateAttribution:
    def test_attribution_sums_to_corpus_and_orders(self, spark):
        from datasmith_spark.queries import QUERIES

        got = (
            QUERIES["q168_gate_attribution"](spark, "/root/testdata/sf0.01")
            .toPandas()
            .sort_values("stage_order")
        )
        assert got.n_clips.sum() == 4000
        assert (got[got.stage == "keep"].n_clips > 0).all()
        order = {s: o for s, o in zip(got.stage, got.stage_order)}
        assert order.get("keep") == 6
        assert all(0 <= o <= 6 for o in got.stage_order)

    def test_registry_has_q168(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q168_gate_attribution" in QUERIES and "q168_gate_attribution" in ORACLE_SQL
