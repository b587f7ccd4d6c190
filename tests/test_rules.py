"""Stage-R rules through the Spark label kernel vs the python kernel."""

import pandas as pd

from datasmith_spark.core import rules as R
from datasmith_spark.pipeline import label_clips

from .conftest import N_PARTS


def test_rule_edge_cases(spark):
    """Edge rows through label_clips (JVM Arrow batches into the label
    kernel, nulls included): a row whose rule reasons are non-empty drops at
    stage R with exactly those reasons; every other row passes stage R."""
    rows = [
        # codec, sr, dur, payload, transcript
        ("pcm16", 16000, 1000, b"\x00" * 32000, "hello world one two three"),  # clean
        ("opus", 16000, 1000, b"\x00" * 32000, "hello world"),                 # unknown codec
        ("pcm16", 16000, 1000, b"", "hello"),                                   # empty audio
        ("pcm16", 16000, 1000, b"\x00" * 31999, "hello"),                       # misaligned
        ("pcm16", 12345, 1000, b"\x00" * 32000, "hello"),                       # bad sr
        ("pcm16", 16000, 10, b"\x00" * 320, "hello"),                           # too short
        ("pcm16", 16000, 1000, b"\x00" * 16000, "hello padding padding!"),      # dur mismatch
        ("pcm16", 16000, 1000, b"\x00" * 32000, "   "),                         # empty transcript
        ("pcm16", 16000, 60000, b"\x00" * 1920000, "short"),                    # len_ratio low
        ("pcm16", 16000, 1000, b"\x00" * 32000, "a b " * 30),                   # repetition
        ("pcm16", 16000, 2000, b"\x00" * 64000, "@#$%^& *()!! ~~ ##$$%%"),      # symbol noise
        (None, None, None, None, None),                                          # all-null row
    ]
    pdf = pd.DataFrame(rows, columns=["codec", "sr_hz", "dur_ms", "bytes", "transcript"])
    pdf["clip_id"] = [f"edge_{i}" for i in range(len(pdf))]
    sdf = spark.createDataFrame(
        pdf, "codec string, sr_hz int, dur_ms int, bytes binary, transcript string, clip_id string"
    )
    labels = label_clips(sdf, N_PARTS).select("clip_id", "drop_stage", "drop_reasons").collect()
    got = {
        r.clip_id: list(r.drop_reasons) if r.drop_stage == R.STAGE_RULES else []
        for r in labels
    }
    exp = {
        f"edge_{i}": R.rule_reasons(
            c, s, d, len(b) if b is not None else None, t
        )
        for i, (c, s, d, b, t) in enumerate(rows)
    }
    assert got == exp
    assert got["edge_0"] == []
    assert "unknown_codec" in got["edge_1"]
    assert "empty_audio" in got["edge_2"]
    assert "misaligned_audio" in got["edge_3"]
    assert "bad_sr" in got["edge_4"]
    assert "bad_duration" in got["edge_5"]
    assert "dur_mismatch" in got["edge_6"]
    assert "empty_transcript" in got["edge_7"]
    assert "len_ratio" in got["edge_8"]
    assert "repetition" in got["edge_9"]
    assert "symbol_noise" in got["edge_10"]
    assert set(got["edge_11"]) >= {"unknown_codec", "empty_audio", "bad_sr", "bad_duration", "empty_transcript"}
