"""Structured Streaming lift: stream output == oracle labels, restart resumes.

label_clips is one stateless-per-row mapInPandas of the label kernel, so
draining the clips through readStream+foreachBatch must reproduce the
single-process oracle labels exactly.
"""

from __future__ import annotations

import os
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from datasmith_spark.pipeline import LABEL_COLS, label_clips
from datasmith_spark.streaming import run_streaming_pipeline
from tests.conftest import assert_frames_exact, cache_dir, spark_jobs

N_PARTS = 16


@pytest.fixture(scope="module")
def stream_dirs(spark, clips_path):
    """Input dir holding the test clips as two separate file drops."""
    base = cache_dir() / "streaming"
    inp, out = base / "input", base / "out"
    if not (inp / "_drop2" / "_SUCCESS").exists():
        shutil.rmtree(base, ignore_errors=True)
        clips = spark.read.parquet(clips_path)
        half = F.pmod(F.crc32(F.col("clip_id").cast("binary")), F.lit(2))
        clips.filter(half == 0).write.parquet(str(inp / "_drop1"))
        clips.filter(half == 1).write.parquet(str(inp / "_drop2"))
        # file source reads the leaf files; move them up so both drops land
        # in one listing dir
        for d in ("_drop1", "_drop2"):
            for f in (inp / d).glob("*.parquet"):
                f.rename(inp / f"{d.lstrip('_')}-{f.name.lstrip('_')}")
    return str(inp), str(out)


def test_stream_matches_batch(spark, stream_dirs, oracle_pdf):
    import pandas as pd

    inp, out = stream_dirs
    shutil.rmtree(out, ignore_errors=True)
    run_streaming_pipeline(spark, inp, out, n_parts=N_PARTS, max_files_per_trigger=4)

    got = (
        spark.read.parquet(f"{out}/labels")
        .select(*LABEL_COLS)
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    want = oracle_pdf.sort_values("clip_id").reset_index(drop=True)
    assert list(want.columns) == LABEL_COLS
    assert_frames_exact(got, want)
    # metrics side table: per batch, a rollup of that batch's labels keyed
    # like run_pipeline's (rows dropped before langid count under "?"), with
    # Spark's null-sum semantics (a sum over only nulls is null)
    m = spark.read.parquet(f"{out}/metrics")
    assert m.schema.simpleString() == (
        "struct<lang:string,codec:string,n:bigint,n_keep:bigint,pii_total:bigint,"
        "tox_total:bigint,keep_rate:double,run_id:string,ts:timestamp,batch_id:int>"
    )
    lab = spark.read.parquet(f"{out}/labels").toPandas()
    lab = lab.assign(n_keep=lab["keep"].astype("int64"), lang=lab["lang"].fillna("?"))
    sums = {"n_keep": "n_keep", "pii_total": "pii_count", "tox_total": "tox_count"}
    want_m = lab.groupby(["batch_id", "lang", "codec"], dropna=False).agg(
        n=("clip_id", "size"), **{c: (src, lambda x: x.sum(min_count=1)) for c, src in sums.items()}
    ).reset_index()
    want_m["keep_rate"] = want_m["n_keep"] / want_m["n"]
    want_m["run_id"] = "stream-" + want_m["batch_id"].astype(str)
    cols = ["batch_id", "lang", "codec", "n", *sums, "keep_rate", "run_id"]
    got_m = m.select(*cols).toPandas().sort_values(cols[:3]).reset_index(drop=True)
    want_m = want_m[cols].sort_values(cols[:3]).reset_index(drop=True)
    assert lab["batch_id"].nunique() > 1 and want_m["pii_total"].isna().any()
    pd.testing.assert_frame_equal(got_m, want_m, check_dtype=False)


def test_stream_restart_is_noop(spark, stream_dirs):
    """availableNow rerun over an unchanged input dir must not duplicate."""
    inp, out = stream_dirs
    n_before = spark.read.parquet(f"{out}/labels").count()
    run_streaming_pipeline(spark, inp, out, n_parts=N_PARTS)
    n_after = spark.read.parquet(f"{out}/labels").count()
    assert n_after == n_before


def test_batch_replay_idempotent(spark, clips_path, tmp_path):
    """Crash-between-write-and-commit: replaying the SAME batch_id must not
    duplicate label or metrics rows (each batch partition is replaced whole)."""
    from datasmith_spark.streaming import make_batch_sink
    from datasmith_spark.tables import TableLayer

    tl = TableLayer(str(tmp_path / "replay_out"))
    sink = make_batch_sink(tl)
    labels = label_clips(spark.read.parquet(clips_path).limit(200), n_parts=N_PARTS)
    sink(labels, 0)
    n_labels = spark.read.parquet(tl.path("labels")).count()
    n_metrics = spark.read.parquet(tl.path("metrics")).count()
    sink(labels, 0)  # replay after simulated checkpoint-commit failure
    assert spark.read.parquet(tl.path("labels")).count() == n_labels
    assert spark.read.parquet(tl.path("metrics")).count() == n_metrics
    # a NEW batch appends (its own partitions), not overwrites
    sink(labels, 1)
    assert spark.read.parquet(tl.path("labels")).count() == 2 * n_labels


def _visible_files(d) -> list[str]:
    return sorted(f for f in os.listdir(d) if not f.startswith(("_", ".")))


def test_replay_replaces_spark_written_partition(spark, tmp_path):
    """A replayed batch over a partition the earlier Spark writer left as
    several part files leaves exactly one labels file with exactly the
    batch's rows, and one metrics file; an empty batch writes nothing."""
    from datasmith_spark.streaming import make_batch_sink
    from datasmith_spark.tables import TableLayer

    rows = [(f"c{i}", i % 4, "pcm16", i % 3 > 0, None, [], "en", 0.9, 50.0, i % 2, 0, f"t{i}")
            for i in range(40)]
    ddl = ("clip_id string, part_id int, codec string, keep boolean, drop_stage string, "
           "drop_reasons array<string>, lang string, lang_prob double, ppl double, "
           "pii_count int, tox_count int, scrubbed_transcript string")
    df = spark.createDataFrame(rows, ddl)
    tl = TableLayer(str(tmp_path / "out"))
    part = tmp_path / "out" / "labels" / "batch_id=7"
    old = spark.createDataFrame([(f"old{i}",) + r[1:] for i, r in enumerate(rows)], ddl)
    old.withColumn("batch_id", F.lit(7)).repartition(3).write.partitionBy("batch_id").parquet(
        tl.path("labels")
    )
    assert len(_visible_files(part)) == 3

    sink = make_batch_sink(tl)
    sink(df, 7)
    assert len(_visible_files(part)) == 1
    got = spark.read.parquet(str(part)).select(*df.columns)
    assert sorted(got.collect()) == sorted(df.collect())
    assert len(_visible_files(tmp_path / "out" / "metrics" / "batch_id=7")) == 1

    sink(df.filter(F.lit(False)), 8)
    assert not (tmp_path / "out" / "labels" / "batch_id=8").exists()
    assert not (tmp_path / "out" / "metrics" / "batch_id=8").exists()


def test_batch_sink_runs_one_spark_job(spark, clips_path, tmp_path):
    """A micro-batch runs one Spark job (the label kernel's toArrow) and no
    Spark write: no staging or _temporary directory is left behind."""
    from datasmith_spark.streaming import make_batch_sink
    from datasmith_spark.tables import TableLayer

    clips = spark.read.parquet(clips_path)
    labels = label_clips(
        clips.filter(F.pmod(F.crc32(F.col("clip_id").cast("binary")), F.lit(8)) == 0),
        n_parts=N_PARTS,
    )
    out = tmp_path / "out"
    _, jobs = spark_jobs(spark, lambda: make_batch_sink(TableLayer(str(out)))(labels, 0))
    assert jobs == 1
    assert len(_visible_files(out / "labels" / "batch_id=0")) == 1
    left = [n for _, dirs, _ in os.walk(out) for n in dirs
            if n.startswith((".spark-staging", "_temporary", ".staging-"))]
    assert not left, left


def test_read_unified_reads_both_layouts(spark, tmp_path):
    """TableLayer.read_unified must return the same batch-shape frame from a
    batch-written labels dir (part_id partitions) and a streaming-sink dir
    (batch_id partitions, part_id a data column)."""
    from datasmith_spark.streaming import make_batch_sink
    from datasmith_spark.tables import TableLayer

    rows = [(f"c{i}", i % 4, "pcm16", True, None, [], "en", 0.9, 50.0, 0, 0, f"t{i}")
            for i in range(40)]
    ddl = ("clip_id string, part_id int, codec string, keep boolean, drop_stage string, "
           "drop_reasons array<string>, lang string, lang_prob double, ppl double, "
           "pii_count int, tox_count int, scrubbed_transcript string")
    df = spark.createDataFrame(rows, ddl)

    tl_b = TableLayer(str(tmp_path / "batch"))
    tl_b.overwrite_partitions(df, "labels", "part_id")
    tl_s = TableLayer(str(tmp_path / "stream"))
    make_batch_sink(tl_s)(df, batch_id=7)

    a = tl_b.read_unified(spark, "labels")
    b = tl_s.read_unified(spark, "labels")
    assert sorted(a.columns) == sorted(b.columns)
    ap = a.orderBy("clip_id").toPandas()
    bp = b.select(a.columns).orderBy("clip_id").toPandas()
    assert (ap.clip_id == bp.clip_id).all() and (ap.keep == bp.keep).all()


def test_stream_crash_between_write_and_commit_recovers(spark, clips_path, tmp_path):
    """Kill the query BETWEEN the labels/metrics write and the streaming
    checkpoint commit of a mid-stream batch (failing foreachBatch after the
    real sink ran), restart it, and require the final tables to be
    byte-identical to an uninterrupted run: the replayed batch (same
    batch_id, same offsets) must overwrite exactly its own partitions."""
    import pandas as pd

    from datasmith_spark.streaming import make_batch_sink, stream_clips
    from datasmith_spark.tables import TableLayer

    inp = str(tmp_path / "inp")
    spark.read.parquet(clips_path).limit(600).repartition(4).write.parquet(inp)

    def run(out: str, crash_once_at: int | None):
        tl = TableLayer(out)
        real = make_batch_sink(tl)
        marker = pathlib.Path(out) / "_crashed_once"

        def sink(df, bid):
            real(df, bid)  # labels + metrics fully written
            if crash_once_at is not None and bid == crash_once_at and not marker.exists():
                marker.write_text("x")
                raise RuntimeError("injected kill between write and checkpoint commit")

        from datasmith_spark.pipeline import LABEL_COLS as COLS
        from datasmith_spark.pipeline import label_clips as lc

        labels = lc(stream_clips(spark, inp, max_files_per_trigger=2), n_parts=N_PARTS)
        writer = (
            labels.select(*COLS)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{out}/_stream_checkpoint")
            .outputMode("append")
        )
        q = writer.trigger(availableNow=True).start()
        try:
            q.awaitTermination(600)
        except Exception:
            assert crash_once_at is not None and marker.exists()
            return False  # crashed as injected
        return True

    crash_out, clean_out = str(tmp_path / "crash"), str(tmp_path / "clean")
    assert run(clean_out, None)
    assert not run(crash_out, 1)          # dies after batch 1's write
    assert run(crash_out, 1)              # restart: replay batch 1, drain rest

    def tbl(out, name, drop=()):
        df = spark.read.parquet(f"{out}/{name}").drop(*drop)
        return df.toPandas().sort_values(sorted(df.columns)[:3]).reset_index(drop=True)

    for name, drop in [("labels", ()), ("metrics", ("ts",))]:
        a, b = tbl(clean_out, name, drop), tbl(crash_out, name, drop)
        pd.testing.assert_frame_equal(
            a.sort_index(axis=1), b.sort_index(axis=1), check_like=True
        )
