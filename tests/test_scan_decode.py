"""Fused manifest scan (pyarrow scan + label kernel in one Python stage) parity.

The manifest scan must produce labels identical to label_clips over a JVM
parquet scan of the same directory — the same label kernel, fed by two
different sources (pyarrow batches in the worker vs JVM Arrow batches).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datasmith_spark.operators.scan_decode import list_manifest, scan_labels, scan_rules_decode
from datasmith_spark.pipeline import label_clips

N_PARTS = 16


def _sorted_pdf(df):
    return df.toPandas().sort_values("clip_id").reset_index(drop=True)


def test_fused_labels_match_batch(spark, clips_path):
    got = _sorted_pdf(scan_labels(spark, clips_path, n_parts=N_PARTS))
    want = _sorted_pdf(label_clips(spark.read.parquet(clips_path), n_parts=N_PARTS))
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in want.columns:
        if c == "drop_reasons":
            same = [list(a) == list(b) for a, b in zip(got[c], want[c])]
            assert all(same), f"drop_reasons mismatch: {sum(not s for s in same)} rows"
        elif want[c].dtype.kind == "f":
            import numpy as np

            a = got[c].to_numpy(dtype=float)
            b = want[c].to_numpy(dtype=float)
            ok = (np.isnan(a) & np.isnan(b)) | (a == b)
            assert ok.all(), f"{c}: {int((~ok).sum())} float mismatches"
        else:
            a = got[c].fillna("<null>").astype(str)
            b = want[c].fillna("<null>").astype(str)
            assert (a == b).all(), f"{c}: {int((a != b).sum())} mismatches"


def test_fused_labels_null_ints(spark, tmp_path):
    """Null int32/string columns (which pyarrow's to_pandas maps to float64
    NaN, not None) must not crash the fused scan and must drop identically
    to label_clips over the JVM scan."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datasmith_spark import datagen

    base = datagen.gen_batch(range(5)).to_dict("records")
    base[0]["sr_hz"] = None
    base[1]["dur_ms"] = None
    base[2]["codec"] = None
    base[3]["transcript"] = None
    # base[4] untouched: a normal row must still flow through
    schema = pa.schema(
        [
            ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
            ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
        ]
    )
    d = str(tmp_path / "null_clips")
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist(base, schema=schema), f"{d}/part-0.parquet")

    got = _sorted_pdf(scan_labels(spark, d, n_parts=N_PARTS))
    want = _sorted_pdf(label_clips(spark.read.parquet(d), n_parts=N_PARTS))
    assert len(got) == 5
    for c in ("clip_id", "keep", "drop_stage", "lang", "scrubbed_transcript"):
        a = got[c].fillna("<null>").astype(str)
        b = want[c].fillna("<null>").astype(str)
        assert (a == b).all(), f"{c} mismatch"
    same = [list(x) == list(y) for x, y in zip(got["drop_reasons"], want["drop_reasons"])]
    assert all(same)
    # the nulled rows all fail rules; the untouched row's label is unaffected
    assert (got.set_index("clip_id").loc[[f"clip_{i:012d}" for i in range(4)], "drop_stage"] == "rules").all()


def test_run_pipeline_fused_resume(spark, clips_path, tmp_path):
    """run_pipeline over input_dir (fused scan): crash + resume == one-shot."""
    import pandas as pd

    from datasmith_spark.pipeline import run_pipeline

    one, res = str(tmp_path / "one"), str(tmp_path / "res")
    r = run_pipeline(spark, None, one, n_parts=N_PARTS, input_dir=clips_path)
    assert r["parts_processed"] == N_PARTS
    r1 = run_pipeline(spark, None, res, n_parts=N_PARTS, input_dir=clips_path, fail_after_parts=4)
    assert r1["parts_processed"] == 4
    r2 = run_pipeline(spark, None, res, n_parts=N_PARTS, input_dir=clips_path)
    assert r2["parts_processed"] == N_PARTS - 4

    def lab(out):
        return (
            spark.read.parquet(f"{out}/labels")
            .select("clip_id", "keep", "drop_stage", "lang", "scrubbed_transcript")
            .toPandas().sort_values("clip_id").reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(lab(one), lab(res))


@pytest.mark.parametrize("pending,batch_rows", [([0, 3, 7], 256), ([5], 8)])
def test_parts_filter_prunes_scan(spark, clips_path, pending, batch_rows):
    """Resume pruning: only requested part_ids come back from the fused scan,
    also when whole batches hold no pending row."""
    df = scan_rules_decode(spark, clips_path, N_PARTS, batch_rows=batch_rows, parts_filter=pending)
    parts = {r.part_id for r in df.select("part_id").distinct().collect()}
    assert parts <= set(pending)
    n_all = (
        label_clips(spark.read.parquet(clips_path), n_parts=N_PARTS)
        .filter(F.col("part_id").isin(pending))
        .count()
    )
    assert df.count() == n_all


def test_scan_runs_one_task_per_core_up_to_one_per_file(spark, clips_path, tmp_path):
    """The fused scan runs min(files, defaultParallelism) tasks, also when
    the directory holds fewer files than the session has cores."""
    import shutil

    files = list_manifest(clips_path)
    cores = spark.sparkContext.defaultParallelism
    df = scan_labels(spark, clips_path, n_parts=N_PARTS)
    assert df.rdd.getNumPartitions() == min(len(files), cores)

    one = tmp_path / "one_file"
    one.mkdir()
    shutil.copy(files[0], one)
    assert scan_labels(spark, str(one), n_parts=N_PARTS).rdd.getNumPartitions() == 1


def test_write_clips_parquet_preserves_unrelated(tmp_path):
    """The fixture writer must only clear its own part-*.parquet/_SUCCESS
    files — never subdirectories or unrelated files in out_dir."""
    import os

    from datasmith_spark import datagen

    d = str(tmp_path / "clips_out")
    os.makedirs(os.path.join(d, "subdir"))
    with open(os.path.join(d, "keep.txt"), "w") as f:
        f.write("x")
    datagen.write_clips_parquet(d, 8, procs=2, rows_per_file=4)
    assert os.path.isdir(os.path.join(d, "subdir"))
    assert os.path.exists(os.path.join(d, "keep.txt"))
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    # second run (regeneration) also succeeds with the subdir present
    datagen.write_clips_parquet(d, 8, procs=2, rows_per_file=4)
