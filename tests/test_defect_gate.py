"""Fused five-lane defect gate (q174): one-decode fusion matches the five
standalone lane scans, attribution order, arbitrary ids."""

from __future__ import annotations

import numpy as np
import pandas as pd

from datasmith_spark.core.audio import encode
from datasmith_spark.core.clipping import clipping_variant
from datasmith_spark.core.electrical import electrical_variant
from datasmith_spark.core.looping import looping_variant
from datasmith_spark.operators.audio_ops import DEFECT_LANES, defect_gate_scan

from .conftest import write_rows


def _noisy(n: int = 16000, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return 0.4 * np.sin(np.arange(n) / 9.0) + 0.01 * rng.standard_normal(n)


def test_fused_gate_lanes_attribution_and_edges(spark, tmp_path):
    x = _noisy()
    rows = [
        ("clean id, any shape", encode(x, "pcm16"), 16000, "pcm16"),
        ("hum+dc", encode(electrical_variant(x, 16000, "hum+dc"), "pcm16"), 16000, "pcm16"),
        ("clipped", encode(clipping_variant(x, "pcm16", "clipped"), "pcm16"), 16000, "pcm16"),
        ("looped", encode(looping_variant(x, "looped"), "pcm16"), 16000, "pcm16"),
        ("broken", b"\x07", None, "pcm16"),
    ]
    path = write_rows(tmp_path, pd.DataFrame(rows, columns=["clip_id", "bytes", "sr_hz", "codec"]))
    out = {r.clip_id: r for r in defect_gate_scan(spark, path).collect()}

    clean = out["clean id, any shape"]
    assert clean.keep and clean.drop_lane is None
    assert all(getattr(clean, f"{l}_keep") for l in DEFECT_LANES)

    assert not out["hum+dc"].keep and out["hum+dc"].drop_lane == "electrical"
    assert not out["clipped"].keep and out["clipped"].drop_lane == "clipping"
    assert not out["looped"].keep and out["looped"].drop_lane == "looping"

    # undecodable: unjudged by every lane, kept, no attribution
    broken = out["broken"]
    assert not broken.ok and broken.keep and broken.drop_lane is None
    assert all(getattr(broken, f"{l}_keep") for l in DEFECT_LANES)


def test_fused_matches_standalone_lanes(spark, tmp_path):
    from datasmith_spark import datagen
    from datasmith_spark.operators import audio_ops

    path = write_rows(tmp_path, datagen.clips_pdf(120))
    fused = defect_gate_scan(spark, path).toPandas().set_index("clip_id")
    standalone = {
        lane: getattr(audio_ops, f"{lane}_scan")(spark, path).toPandas().set_index("clip_id")
        for lane in DEFECT_LANES
    }
    for cid, row in fused.iterrows():
        for lane, lane_df in standalone.items():
            expect = bool(lane_df.loc[cid, "keep"])
            if lane == "integrity" and not bool(lane_df.loc[cid, "ok"]):
                expect = True  # fused gate: undecodable rows are unjudged
            assert bool(row[f"{lane}_keep"]) == expect, (cid, lane)
    assert (fused.keep == fused[[f"{l}_keep" for l in DEFECT_LANES]].all(axis=1)).all()


def test_registry_has_q174():
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q174_defect_gate" in QUERIES and "q174_defect_gate" in ORACLE_SQL


def test_defect_attribution_sums_to_corpus(spark):
    from datasmith_spark.queries import QUERIES

    rows = QUERIES["q178_defect_attribution"](spark, "/root/testdata/sf0.001").collect()
    total = sum(r.n_clips for r in rows)
    assert total == 4000  # pinned clips table size (not sf-scaled)
    lanes = {r.lane for r in rows}
    assert "keep" in lanes and lanes <= {
        "integrity", "electrical", "clipping", "bitdepth", "looping", "keep"
    }
    orders = {r.lane: r.lane_order for r in rows}
    assert orders["keep"] == 5


def test_registry_has_q178():
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q178_defect_attribution" in QUERIES and "q178_defect_attribution" in ORACLE_SQL
