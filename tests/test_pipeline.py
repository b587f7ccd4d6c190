"""Pipeline vs oracle: the BASELINE.json per-row invariants.

  * keep/drop F1 >= 0.99 (asserted exact: F1 == 1.0)
  * scrubbed-transcript string equality per row
  * decoded-PCM SNR >= 30 dB vs the original synthesized signal
  * Arrow-batch-size and partition-count invariance (SURVEY.md §5.3)
"""

import numpy as np
import pandas as pd
import pytest

from datasmith_spark import datagen
from datasmith_spark.core import audio
from datasmith_spark.pipeline import label_clips

from .conftest import N_PARTS, REPO, assert_frames_exact


@pytest.fixture(scope="module")
def labels_pdf(spark, clips_path) -> pd.DataFrame:
    clips = spark.read.parquet(clips_path)
    return (
        label_clips(clips, n_parts=N_PARTS)
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )


def test_labels_match_oracle_exactly(labels_pdf, oracle_pdf):
    assert_frames_exact(labels_pdf, oracle_pdf)


def test_keep_drop_f1(labels_pdf, oracle_pdf):
    a = labels_pdf.keep.to_numpy()
    b = oracle_pdf.keep.to_numpy()
    tp = int((a & b).sum())
    fp = int((a & ~b).sum())
    fn = int((~a & b).sum())
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f1
    assert f1 == 1.0  # shared-kernel design => exact
    # sanity: the filter actually does something on both sides
    assert 0.5 < b.mean() < 0.99


def test_scrubbed_transcript_equality(labels_pdf, oracle_pdf):
    a = labels_pdf.scrubbed_transcript.fillna("<null>")
    b = oracle_pdf.scrubbed_transcript.fillna("<null>")
    assert (a == b).all()
    # scrub provably rewrites something somewhere
    kept = oracle_pdf[oracle_pdf.keep]
    assert (kept.pii_count > 0).any()
    assert kept.scrubbed_transcript.str.contains("<PII:").any()


def test_decoded_pcm_snr_vs_source(clips_pdf):
    """Pipeline-visible decode vs the pre-encode synthesized signal.

    audio.decode IS the kernel the pipeline's decode stage runs (shared code
    => decode-vs-reference is exact, SNR = inf). This test additionally bounds
    decode against the SOURCE signal: >= 30 dB wherever the codec physically
    allows it (8-bit linear PCM has a ~50 dB full-scale ceiling, so quiet
    pcm8 rows are held to their amplitude-dependent quantization bound).
    """
    checked = 0
    for i in range(200):
        truth = datagen.gen_row(i, with_signal=True)
        if truth["codec"] not in audio.ITEMSIZE:
            continue
        pcm = audio.decode(truth["bytes"], truth["codec"])
        if pcm is None or pcm.size != truth["_signal"].size:
            continue  # corrupted-audio rows are dropped by the pipeline
        snr = audio.snr_db(truth["_signal"], pcm)
        peak = float(abs(truth["_signal"]).max()) or 1.0
        if truth["codec"] == "pcm8":
            bound = min(30.0, 6.02 * 8 - 20 * np.log10(1.0 / peak) - 12.0)
        else:
            bound = 30.0
        assert snr >= bound, (truth["clip_id"], truth["codec"], peak, snr)
        checked += 1
    assert checked >= 150


@pytest.mark.parametrize("batch_size", [16, 1024])
def test_arrow_batch_size_invariance(spark, clips_path, oracle_pdf, batch_size):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size))
    try:
        clips = spark.read.parquet(clips_path).limit(400)
        lab = (
            label_clips(clips, n_parts=N_PARTS)
            .toPandas()
            .sort_values("clip_id")
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    sub = oracle_pdf[oracle_pdf.clip_id.isin(set(lab.clip_id))].sort_values("clip_id").reset_index(drop=True)
    assert_frames_exact(lab, sub)


@pytest.mark.parametrize("n_partitions", [1, 8])
def test_partition_count_invariance(spark, clips_path, oracle_pdf, n_partitions):
    clips = spark.read.parquet(clips_path).limit(400).repartition(n_partitions)
    lab = (
        label_clips(clips, n_parts=N_PARTS)
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    sub = oracle_pdf[oracle_pdf.clip_id.isin(set(lab.clip_id))].sort_values("clip_id").reset_index(drop=True)
    assert_frames_exact(lab, sub)


def test_no_shuffle_in_label_chain(spark, clips_path):
    """The filter chain must be a single narrow stage: no Exchange operator,
    and one Python hop (the label kernel's mapInPandas, no chained UDFs)."""
    clips = spark.read.parquet(clips_path)
    plan = label_clips(clips, n_parts=N_PARTS)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1 and "EvalPython" not in plan, plan


def test_oracle_fixture_is_honest():
    """The committed oracle fixture (q27/q28 DuckDB oracle input) must equal
    a fresh regeneration of the single-process oracle on a row sample."""
    import sys

    import pandas as pd

    sys.path.insert(0, f"{REPO}/scripts")
    import make_oracle_fixture as mof

    fix = pd.read_parquet(f"{REPO}/fixtures/oracle_labels_n4000.parquet")
    assert len(fix) == 4000
    idx = list(range(0, 4000, 17))  # 236-row deterministic sample
    fresh = mof.oracle_rows(idx).reset_index(drop=True)
    sample = fix.iloc[idx].reset_index(drop=True)
    for c in fresh.columns:
        if c == "drop_reasons":
            assert all(list(a) == list(b) for a, b in zip(sample[c], fresh[c]))
        elif fresh[c].dtype.kind == "f":
            a = sample[c].to_numpy(dtype=float)
            b = fresh[c].to_numpy(dtype=float)
            assert ((np.isnan(a) & np.isnan(b)) | (a == b)).all(), c
        else:
            a = sample[c].astype("object").where(sample[c].notna(), "<null>").astype(str)
            b = fresh[c].astype("object").where(fresh[c].notna(), "<null>").astype(str)
            assert (a == b).all(), c
