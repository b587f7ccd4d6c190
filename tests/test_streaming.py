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


def test_windowed_metrics_with_watermark(spark, tmp_path):
    """Watermarked event-time windows: emitted rows equal the batch window
    aggregation exactly, and no window newer than the final watermark leaks
    out of the append-mode sink."""
    import pandas as pd

    from datasmith_spark.streaming import windowed_event_metrics

    ddl = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value")
        .orderBy("ts")
        .toPandas()
    )
    # three chronological file drops so the watermark advances across batches
    inp = tmp_path / "ev_in"
    inp.mkdir()
    third = len(ev) // 3
    for i, chunk in enumerate((ev[:third], ev[third : 2 * third], ev[2 * third :])):
        spark.createDataFrame(chunk, ddl).coalesce(1).write.parquet(str(inp / f"_d{i}"))
        for f in (inp / f"_d{i}").glob("*.parquet"):
            f.rename(inp / f"d{i}-{f.name.lstrip('_')}")

    out = str(tmp_path / "ev_out")
    q = (
        windowed_event_metrics(spark, str(inp), ddl, window="1 hour", watermark="30 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    got = spark.read.parquet(out).toPandas().sort_values(["w_start", "event_type"]).reset_index(drop=True)
    assert len(got) > 0, "no closed windows emitted"

    batch = (
        spark.createDataFrame(ev, ddl)
        .groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "event_type", "n", "total")
        .toPandas()
    )
    want = {
        (r.w_start, r.event_type): (r.n, r.total, r.w_end) for r in batch.itertuples(index=False)
    }
    # every emitted (closed) window matches the batch aggregation exactly
    for r in got.itertuples(index=False):
        assert want[(r.w_start, r.event_type)] == (r.n, r.total, r.w_end)
    # watermark semantics: nothing newer than max(ts) was emitted, and at
    # least one tail window was correctly withheld (not yet closed)
    max_ts = pd.Timestamp(ev["ts"].max())
    assert (pd.to_datetime(got["w_end"]) <= max_ts + pd.Timedelta("1 hour")).all()
    assert len(got) < len(batch), "append mode must withhold windows above the watermark"


def test_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionizer: every emitted session equals a
    batch-computed gap session; all gap-closed sessions are emitted."""
    import pandas as pd

    from datasmith_spark.streaming import stateful_sessionize

    ddl = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value")
        .orderBy("ts")
        .toPandas()
    )
    inp = tmp_path / "sess_in"
    inp.mkdir()
    third = len(ev) // 3
    for i, chunk in enumerate((ev[:third], ev[third : 2 * third], ev[2 * third :])):
        spark.createDataFrame(chunk, ddl).coalesce(1).write.parquet(str(inp / f"_d{i}"))
        for f in (inp / f"_d{i}").glob("*.parquet"):
            f.rename(inp / f"d{i}-{f.name.lstrip('_')}")

    out = str(tmp_path / "sess_out")
    gap = 1800.0
    q = (
        stateful_sessionize(spark, str(inp), ddl, gap_sec=gap)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    got = spark.read.parquet(out).toPandas()
    emitted = {
        (r.user_id, pd.Timestamp(r.session_start).timestamp()): (
            pd.Timestamp(r.session_end).timestamp(), r.n_events,
        )
        for r in got.itertuples(index=False)
    }

    # batch ground truth: gap-based sessions per user
    sessions: dict[tuple, tuple] = {}
    open_tail: set[tuple] = set()
    for uid, g in ev.groupby("user_id"):
        ts = sorted(pd.Timestamp(t).timestamp() for t in g["ts"])
        start, last, n = ts[0], ts[0], 1
        for t in ts[1:]:
            if t - last > gap:
                sessions[(uid, start)] = (last, n)
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        sessions[(uid, start)] = (last, n)
        open_tail.add((uid, start))  # the user's final session may stay open

    assert len(emitted) > 0
    for k, v in emitted.items():
        assert sessions.get(k) == v, f"emitted session {k} does not match batch"
    # completeness is watermark-gated: a session is emitted once the
    # watermark (which lags one micro-batch: wm at batch k = max ts of
    # batches < k minus the 30-min delay) passes its last+gap. Everything
    # sealed by the final batch's watermark MUST have been emitted.
    wm_final = pd.Timestamp(ev.iloc[2 * third - 1]["ts"]).timestamp() - 1800.0
    missing = {
        k
        for k, (last, _) in sessions.items()
        if k not in emitted and k not in open_tail and last + gap <= wm_final
    }
    assert not missing, f"watermark-sealed sessions not emitted: {sorted(missing)[:5]}"


def test_stateful_sessionize_out_of_order_late_event(spark, tmp_path):
    """A late event (above the watermark) arriving in a LATER micro-batch
    with an EARLIER timestamp must merge into the open session — not shrink
    it, regress session_end, or split it (the max/min merge rule)."""
    import pandas as pd

    from datasmith_spark.streaming import stateful_sessionize

    ddl = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    base = 1_700_000_000
    batches = [
        [(1, base + 0, 7, "a", 1.0), (2, base + 600, 7, "a", 1.0)],
        [(3, base + 300, 7, "a", 1.0)],   # LATE: earlier ts, later batch
        [(4, base + 50_000, 7, "a", 1.0)],  # far future: advances event time
        # watermark lags one batch — this batch runs with wm ~= base+48200,
        # which seals session 1 and triggers its emission
        [(5, base + 51_000, 7, "a", 1.0)],
    ]
    inp = tmp_path / "ooo_in"
    inp.mkdir()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            [(e, pd.Timestamp(t, unit="s"), u, et, v) for e, t, u, et, v in rows],
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        )
        spark.createDataFrame(pdf, ddl).coalesce(1).write.parquet(str(inp / f"_d{i}"))
        for f in (inp / f"_d{i}").glob("*.parquet"):
            f.rename(inp / f"d{i}-{f.name.lstrip('_')}")

    out = str(tmp_path / "ooo_out")
    q = (
        stateful_sessionize(spark, str(inp), ddl, gap_sec=1800.0, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ooo_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    got = spark.read.parquet(out).toPandas().sort_values("session_start")
    closed = [
        (pd.Timestamp(r.session_start).timestamp(), pd.Timestamp(r.session_end).timestamp(), r.n_events)
        for r in got.itertuples(index=False)
    ]
    # ONE closed session covering all three early events — not split, and
    # session_end must remain the max ts (base+600), not the late arrival
    assert (float(base), float(base + 600), 3) in closed, closed
    assert len(closed) == 1, closed


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


def test_stream_exact_dedup_drops_replays(spark, tmp_path):
    """Streaming exact dedup: duplicated events across micro-batches emit
    once; output multiset equals batch dropDuplicates of the same input."""
    import pandas as pd

    from datasmith_spark.streaming import stream_exact_dedup

    ddl = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    base = 1_750_000_000
    b0 = [(i, base + i * 60, i % 3, "a", 1.0) for i in range(10)]
    b1 = b0[3:7] + [(100 + i, base + 5000 + i * 60, i % 3, "b", 2.0) for i in range(5)]  # replays + new
    inp = tmp_path / "dd_in"
    inp.mkdir()
    for i, rows in enumerate([b0, b1]):
        pdf = pd.DataFrame(
            [(e, pd.Timestamp(t, unit="s"), u, et, v) for e, t, u, et, v in rows],
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        )
        spark.createDataFrame(pdf, ddl).coalesce(1).write.parquet(str(inp / f"_d{i}"))
        for f in (inp / f"_d{i}").glob("*.parquet"):
            f.rename(inp / f"d{i}-{f.name.lstrip('_')}")

    out = str(tmp_path / "dd_out")
    q = (
        stream_exact_dedup(spark, str(inp), ddl, key_cols=["event_id"])
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    got = spark.read.parquet(out).toPandas()
    assert len(got) == 15  # 10 unique from b0 + 5 new from b1; 4 replays dropped
    assert got.event_id.is_unique
    expected = set(range(10)) | {100 + i for i in range(5)}
    assert set(got.event_id) == expected


def test_stateful_sessionize_late_cluster_merges(spark, tmp_path):
    """A CLUSTER of late events landing more than gap before the open
    session must come out as ONE merged session (multi-interval state) —
    not per-event singletons."""
    import pandas as pd

    from datasmith_spark.streaming import stateful_sessionize

    ddl = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    base = 1_760_000_000
    batches = [
        [(1, base + 3000, 7, "a", 1.0)],                       # open session
        [(2, base + 500, 7, "a", 1.0), (3, base + 600, 7, "a", 1.0)],  # late cluster
        [(4, base + 100_000, 7, "a", 1.0)],                    # advance event time
        [(5, base + 101_000, 7, "a", 1.0)],                    # wm seals the early sessions
    ]
    inp = tmp_path / "lc_in"
    inp.mkdir()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            [(e, pd.Timestamp(t, unit="s"), u, et, v) for e, t, u, et, v in rows],
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        )
        spark.createDataFrame(pdf, ddl).coalesce(1).write.parquet(str(inp / f"_d{i}"))
        for f in (inp / f"_d{i}").glob("*.parquet"):
            f.rename(inp / f"d{i}-{f.name.lstrip('_')}")

    out = str(tmp_path / "lc_out")
    q = (
        # 2h watermark so the late cluster is admissible while still being
        # more than gap before the open session's start
        stateful_sessionize(
            spark, str(inp), ddl, gap_sec=1800.0, watermark="120 minutes",
            max_files_per_trigger=1,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "lc_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    got = spark.read.parquet(out).toPandas().sort_values("session_start")
    closed = [
        (pd.Timestamp(r.session_start).timestamp(), pd.Timestamp(r.session_end).timestamp(), r.n_events)
        for r in got.itertuples(index=False)
    ]
    assert (float(base + 500), float(base + 600), 2) in closed, closed  # merged, not split
    assert (float(base + 3000), float(base + 3000), 1) in closed, closed
    assert len(closed) == 2, closed


def test_stateful_sessionize_watermark_boundary_semantics(spark, tmp_path):
    """Pin the watermark-boundary contract the emission predicate relies on:
    Spark's late-row filter for applyInPandasWithState drops events with
    ts <= watermark (equality INCLUDED — measured, not assumed), so once
    wm >= last+gap no future event can merge and emitting at EQUALITY
    (last + gap <= wm) is safe. A strict (<) emission would withhold a
    sealed session with nothing to gain. The boundary event below lands in
    a batch whose late-filter watermark equals its ts exactly: it must be
    dropped, and the final sessions must show no trace of it."""
    import pandas as pd

    from datasmith_spark.streaming import stateful_sessionize

    ddl = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    base = 1_770_000_000
    batches = [
        # A = (base); B = (base+3600) sets max event time -> wm base+1800
        [(1, base + 0, 7, "a", 1.0), (2, base + 3600, 7, "a", 1.0)],
        # keeps wm at base+1800 == A.last+gap; the emission check runs for
        # user 7 at exact equality and seals A
        [(3, base + 3600, 7, "a", 1.0)],
        # boundary event: ts == late-filter wm == A.last+gap — DROPPED by
        # the engine before reaching the operator
        [(4, base + 1800, 7, "a", 1.0)],
        [(5, base + 100_000, 9, "a", 1.0)],  # advance event time
        [(6, base + 100_100, 9, "a", 1.0)],  # wm seals user 7's session B
    ]
    inp = tmp_path / "wb_in"
    inp.mkdir()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            [(e, pd.Timestamp(t, unit="s"), u, et, v) for e, t, u, et, v in rows],
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        )
        spark.createDataFrame(pdf, ddl).coalesce(1).write.parquet(str(inp / f"_d{i}"))
        for f in (inp / f"_d{i}").glob("*.parquet"):
            f.rename(inp / f"d{i}-{f.name.lstrip('_')}")

    out = str(tmp_path / "wb_out")
    q = (
        stateful_sessionize(spark, str(inp), ddl, gap_sec=1800.0, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "wb_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    got = spark.read.parquet(out).toPandas()
    u7 = sorted(
        (pd.Timestamp(r.session_start).timestamp(), pd.Timestamp(r.session_end).timestamp(), r.n_events)
        for r in got[got.user_id == 7].itertuples(index=False)
    )
    # the boundary event was dropped by the engine: sessions A and B close
    # untouched, with no spurious third session and no 4-event merge
    assert u7 == [
        (float(base), float(base), 1),
        (float(base + 3600), float(base + 3600), 2),
    ], u7


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


def test_stream_audio_quality_matches_batch(spark, clips_path, stream_dirs, tmp_path):
    """The fused audio-quality operator lifted onto a stream reproduces the
    batch operator bit-for-bit over the same files (stateless lanes)."""
    from datasmith_spark.operators.audio_ops import audio_quality
    from datasmith_spark.streaming import stream_audio_quality

    inp, _ = stream_dirs
    q = (
        stream_audio_quality(spark, inp, max_files_per_trigger=4)
        .writeStream.format("memory")
        .queryName("aq_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.table("aq_stream").toPandas().sort_values("clip_id").reset_index(drop=True)
    )
    want = (
        audio_quality(spark.read.parquet(inp))
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in want.columns:
        a = got[c].astype("object").where(got[c].notna(), "<null>").astype(str)
        b = want[c].astype("object").where(want[c].notna(), "<null>").astype(str)
        assert (a == b).all(), f"{c} mismatch"
    # the composite keep is the AND of the three lane keeps
    lanes = want.vad_keep & want.snr_ok & ~want.narrowband & want.rate_keep & want.ok
    assert (want.keep == lanes).all()
    # and every lane actually fires somewhere on the corpus
    assert 0 < want.keep.sum() < len(want)


def test_stream_features_matches_batch(spark, clips_path, stream_dirs, tmp_path):
    """The fused decode->logmel->cmvn->specaugment featurization lifted onto
    a stream reproduces the batch operator bit-for-bit (stateless chain;
    SpecAugment masks depend only on clip_id, never on batch composition)."""
    import pyarrow.parquet as pq

    from datasmith_spark.operators.audio_ops import specaug_features
    from datasmith_spark.streaming import stream_features

    # ~420 MB of float64 features per side: both go to parquet files and are
    # read here with pyarrow, not collected through the driver JVM's heap (a
    # memory sink holds its whole output there)
    inp, _ = stream_dirs
    got_dir, want_dir = tmp_path / "stream", tmp_path / "batch"
    q = (
        stream_features(spark, inp, max_files_per_trigger=4, augment=True)
        .writeStream.format("parquet")
        .option("path", str(got_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    specaug_features(spark.read.parquet(inp)).write.parquet(str(want_dir))
    got = (
        pq.read_table(got_dir).to_pandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    want = (
        pq.read_table(want_dir).to_pandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert list(got.n_frames) == list(want.n_frames)
    import numpy as np

    for a, b in zip(got.feats, want.feats):
        assert np.array_equal(np.asarray(a), np.asarray(b))


def test_stream_image_hashes_matches_batch(spark, tmp_path):
    """The q65 image dHash lifted onto a stream reproduces the batch
    operator bit-for-bit (stateless narrow map), including skipping the
    corrupt lane rather than crashing the micro-batch."""
    from datasmith_spark.operators.image_fp import image_hashes
    from datasmith_spark.operators.multimodal import synth_images

    inp = str(tmp_path / "img_in")
    # 120 pinned synthetic images incl. png/jpeg/corrupt lanes, 6 files
    synth_images(spark, 120).repartition(6).write.mode("overwrite").parquet(inp)
    from datasmith_spark.streaming import stream_image_hashes

    q = (
        stream_image_hashes(spark, inp, max_files_per_trigger=2)
        .writeStream.format("memory")
        .queryName("img_hash_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.table("img_hash_stream")
        .toPandas()
        .sort_values("img_id")
        .reset_index(drop=True)
    )
    want = (
        image_hashes(spark.read.parquet(inp))
        .toPandas()
        .sort_values("img_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)
    # corrupt rows (every 51st index) were skipped, not crashed
    assert len(got) < 120


def test_stream_store_dedup_matches_batch(spark, tmp_path):
    """The q82 bloom store-dedup lifted onto a stream retains EXACTLY the
    rows of the plain batch anti-join over the same files — the bloom only
    prunes, and micro-batching does not change the retained set."""
    from datasmith_spark.streaming import stream_store_dedup

    inp = str(tmp_path / "sig_in")
    rows = [(i, f"sig-{i % 140}") for i in range(400)]  # heavy key reuse
    spark.createDataFrame(rows, "row_id long, h string").repartition(
        5
    ).write.mode("overwrite").parquet(inp)
    store = spark.createDataFrame(
        [(f"sig-{i}",) for i in range(0, 140, 2)], "h string"  # evens seen
    )
    q = (
        stream_store_dedup(spark, inp, store, "h", max_files_per_trigger=2)
        .writeStream.format("memory")
        .queryName("store_dedup_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r.row_id, r.h) for r in spark.table("store_dedup_stream").collect()
    )
    want = sorted(
        (r.row_id, r.h)
        for r in spark.read.parquet(inp).join(store, "h", "left_anti").collect()
    )
    assert got == want and len(got) > 0
    # only odd signatures survive
    assert all(int(h.split("-")[1]) % 2 == 1 for _, h in got)


def test_stream_zscore_flags_matches_batch(spark, tmp_path):
    """The q101 rolling z-score detector lifted onto a stream: with
    per-key in-order arrival (time-sliced files, one per trigger) the
    streamed flags are value-equal to the batch operator over the
    concatenated input, and the spike is actually flagged."""
    import time as _time
    from datetime import datetime, timedelta

    from datasmith_spark.operators.detection import rolling_zscore_flags
    from datasmith_spark.streaming import stream_zscore_flags

    ddl = "user_id bigint, event_id bigint, ts timestamp, cents bigint"
    base = datetime(2024, 1, 1)
    rows = []
    for u in (1, 2):
        for i in range(18):
            cents = 100 + (i % 3) if not (u == 1 and i == 12) else 99_999
            rows.append((u, i, base + timedelta(minutes=i), cents))
    # three time slices -> three in-order micro-batches
    inp = tmp_path / "z_in"
    inp.mkdir()
    for si, lo in enumerate((0, 6, 12)):
        sl = [r for r in rows if lo <= r[1] < lo + 6]
        spark.createDataFrame(sl, ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / f"slice-{si}"))
        _time.sleep(1.1)  # distinct mtimes -> deterministic trigger order

    q = (
        stream_zscore_flags(
            spark, f"{inp}/slice-*", ddl, window=10, min_n=5, z=2,
            max_files_per_trigger=1,
        )
        .writeStream.format("memory")
        .queryName("zscore_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r.user_id, r.event_id, r.cents, r.n_prev, r.flagged)
        for r in spark.table("zscore_stream").collect()
    )
    batch = spark.createDataFrame(rows, ddl)
    want = sorted(
        (r.user_id, r.event_id, r.cents, r.n_prev, r.flagged)
        for r in rolling_zscore_flags(
            batch, "user_id", "ts", "event_id", "cents",
            window=10, min_n=5, z=2,
        ).collect()
    )
    assert got == want
    assert (1, 12, 99_999, 10, True) in got      # the spike fires
    assert sum(1 for *_, fl in got if fl) == 1    # and nothing else does


def test_stream_funnel_matches_batch(spark, tmp_path):
    """Streaming earliest-chaining funnel == batch funnel_user_times
    over the same events fed as three in-order micro-batches."""
    import time as _time
    from datetime import datetime, timedelta

    from datasmith_spark.operators.funnel import funnel_user_times
    from datasmith_spark.streaming import stream_funnel

    ddl = "user_id bigint, event_id bigint, ts timestamp, event_type string"
    base = datetime(2024, 1, 1)
    rows = [
        # u1 full funnel across slices
        (1, 1, base, "view"), (1, 2, base + timedelta(minutes=30), "click"),
        (1, 3, base + timedelta(minutes=70), "purchase"),
        # u2 click outside the 1h window of the first view
        (2, 1, base, "view"), (2, 2, base + timedelta(minutes=90), "click"),
        # u3 click before any view never fills stage 1
        (3, 1, base, "click"), (3, 2, base + timedelta(minutes=10), "view"),
        (3, 3, base + timedelta(minutes=20), "click"),
        # u4 never starts
        (4, 1, base, "purchase"),
    ]
    inp = tmp_path / "f_in"
    inp.mkdir()
    slices = [
        [r for r in rows if r[2] < base + timedelta(minutes=25)],
        [r for r in rows if base + timedelta(minutes=25) <= r[2] < base + timedelta(minutes=60)],
        [r for r in rows if r[2] >= base + timedelta(minutes=60)],
    ]
    import time
    for si, sl in enumerate(slices):
        spark.createDataFrame(sl, ddl).coalesce(1).write.mode("overwrite") \
            .parquet(str(inp / f"slice-{si}"))
        time.sleep(1.1)

    q = (
        stream_funnel(
            spark, f"{inp}/slice-*", ddl,
            step_types=["view", "click", "purchase"], window_sec=3600,
            max_files_per_trigger=1,
        )
        .writeStream.format("memory").queryName("funnel_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {}
    for r in spark.table("funnel_stream").collect():
        got.setdefault(r.user_id, {})[r.stage_idx] = r.stage_ts

    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    batch = funnel_user_times(
        spark.createDataFrame(rows, ddl), "user_id", "ts", steps, 3600
    ).collect()
    want = {}
    for r in batch:
        for i in range(3):
            t = r[f"_t{i}"]
            if t is not None:
                want.setdefault(r.user_id, {})[i] = t
    assert got == want
    assert set(got[1]) == {0, 1, 2} and set(got[2]) == {0} and set(got[3]) == {0, 1}
    assert 4 not in got


def test_stream_disorder_audit_matches_batch(spark, tmp_path):
    """Streaming lateness audit == the q133 batch audit over the same
    events fed as three in-order micro-batches (per-key arrival order =
    event_id), including a planted 2-minute-late event."""
    import time as _time
    from datetime import datetime, timedelta

    from datasmith_spark.queries import QUERIES
    from datasmith_spark.streaming import stream_disorder_audit

    ddl = "user_id bigint, event_id bigint, ts timestamp"
    base = datetime(2024, 1, 1)
    rows = []
    for u in (1, 2):
        for i in range(12):
            # u1 event 7 arrives with a timestamp 2 minutes BEHIND the max
            ts = base + timedelta(minutes=i)
            if u == 1 and i == 7:
                ts = base + timedelta(minutes=6, seconds=-120)
            rows.append((u, i, ts))
    inp = tmp_path / "d_in"
    inp.mkdir()
    for si, lo in enumerate((0, 4, 8)):
        sl = [r for r in rows if lo <= r[1] < lo + 4]
        spark.createDataFrame(sl, ddl).coalesce(1).write.mode("overwrite") \
            .parquet(str(inp / f"slice-{si}"))
        _time.sleep(1.1)

    q = (
        stream_disorder_audit(spark, f"{inp}/slice-*", ddl, max_files_per_trigger=1)
        .writeStream.format("memory").queryName("disorder_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    final = {}
    for r in spark.table("disorder_stream").collect():
        if r.user_id not in final or r.n_events > final[r.user_id].n_events:
            final[r.user_id] = r
    got = {
        u: (r.n_events, r.n_late, r.max_late_us, r.sum_late_us, r.n_late_over_1m)
        for u, r in final.items()
    }

    # batch side: q133 over the same rows written as an events table
    bdir = tmp_path / "batch_sf"
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(
        str(bdir / "events.parquet")
    )
    want = {
        r.user_id: (r.n_events, r.n_late, r.max_late_us, r.sum_late_us, r.n_late_over_1m)
        for r in QUERIES["q133_out_of_order_audit"](spark, str(bdir)).collect()
    }
    assert got == want
    assert got[1][1] == 1 and got[1][2] == 120_000_000  # planted 2-min lateness
    assert got[2][1] == 0                               # clean stream clean


def test_stream_quality_gate_matches_batch(spark, clips_path, stream_dirs, tmp_path):
    """q167's five-lane fused gate lifted onto a stream reproduces the
    batch operator bit-for-bit over the same files (stateless lanes)."""
    from datasmith_spark.operators.audio_ops import quality_gate_clips
    from datasmith_spark.streaming import stream_quality_gate

    inp, _ = stream_dirs
    q = (
        stream_quality_gate(spark, inp, max_files_per_trigger=4)
        .writeStream.format("memory")
        .queryName("gate_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.table("gate_stream").toPandas().sort_values("clip_id").reset_index(drop=True)
    )
    want = (
        quality_gate_clips(spark.read.parquet(inp))
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in want.columns:
        assert (got[c] == want[c]).all(), f"{c} mismatch"
    lanes = (
        want.ok & want.vad_keep & want.spectral_keep & want.rate_keep
        & want.integrity_keep & want.text_keep
    )
    assert (want.keep == lanes).all()


def test_stream_defect_gate_matches_batch(spark, clips_path, stream_dirs, tmp_path):
    """q174's five-lane fused defect gate lifted onto a stream reproduces
    the batch operator bit-for-bit over the same files (stateless lanes)."""
    from datasmith_spark.operators.audio_ops import DEFECT_LANES, defect_gate_clips
    from datasmith_spark.streaming import stream_defect_gate

    inp, _ = stream_dirs
    q = (
        stream_defect_gate(spark, inp, max_files_per_trigger=4)
        .writeStream.format("memory")
        .queryName("defect_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.table("defect_stream").toPandas().sort_values("clip_id").reset_index(drop=True)
    )
    want = (
        defect_gate_clips(spark.read.parquet(inp))
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in want.columns:
        assert (got[c].fillna("<null>") == want[c].fillna("<null>")).all(), f"{c} mismatch"
    lanes = want[[f"{l}_keep" for l in DEFECT_LANES]].all(axis=1)
    assert (want.keep == lanes).all()


def test_stream_feature_qstats_matches_batch(spark, clips_path, stream_dirs):
    """q182's exact global feature reduce, incrementally maintained on a
    stream in complete mode, equals the batch reduce bit-for-bit over the
    same files — the promise only integer partials can make (float stats
    would drift with the micro-batch schedule)."""
    from datasmith_spark.operators.audio_ops import (
        aggregate_feature_qstats,
        feature_qstats_clips,
    )
    from datasmith_spark.streaming import stream_feature_qstats

    inp, _ = stream_dirs
    q = (
        stream_feature_qstats(spark, inp, max_files_per_trigger=3)
        .writeStream.format("memory")
        .queryName("qstats_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.table("qstats_stream")
        .toPandas()
        .sort_values("bin")
        .reset_index(drop=True)
    )
    want = (
        aggregate_feature_qstats(feature_qstats_clips(spark.read.parquet(inp)))
        .toPandas()
        .sort_values("bin")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in ("bin", "n_clips", "n_frames", "sum_q", "sumsq_q"):
        assert got[c].tolist() == want[c].tolist(), f"{c} mismatch"


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream click->purchase join over multi-file
    drops reproduces the batch join exactly (inner join, watermark wide
    enough that no on-time row evicts early)."""
    from datasmith_spark.streaming import (
        click_purchase_join,
        stream_click_purchase_join,
    )

    src = "/root/testdata/sf0.001/events.parquet"
    inp = str(tmp_path / "events_drops")
    ev = spark.read.parquet(src)
    # three unordered drops so the join state must carry across batches
    ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 1).write.parquet(inp + "/d1")
    ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 2).write.parquet(inp + "/d2")
    ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 0).write.parquet(inp + "/d3")
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(inp + "/d*/part-*.parquet"))):
        shutil.move(f, f"{inp}/drop{i}.parquet")
    for d in ("d1", "d2", "d3"):
        shutil.rmtree(f"{inp}/{d}")

    q = (
        stream_click_purchase_join(spark, inp, max_files_per_trigger=1)
        .writeStream.format("memory")
        .queryName("ss_join")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    key = ["click_id", "purchase_id"]
    got = spark.table("ss_join").toPandas().sort_values(key).reset_index(drop=True)
    full = spark.read.parquet(inp)
    want = (
        click_purchase_join(
            full.filter(F.col("event_type") == "click"),
            full.filter(F.col("event_type") == "purchase"),
        )
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in want.columns:
        assert (got[c] == want[c]).all(), f"{c} mismatch"


def test_stream_clips_contract_matches_batch(spark, clips_path, stream_dirs):
    """Continuous ingest-contract monitor in complete mode equals the
    batch gate exactly over the same files (integer counts — no drift
    with the micro-batch schedule), and agrees with an independent
    pandas recount."""
    import pandas as pd

    from datasmith_spark.core.audio import ITEMSIZE
    from datasmith_spark.streaming import clips_contract, stream_clips_contract

    inp, _ = stream_dirs
    q = (
        stream_clips_contract(spark, inp, max_files_per_trigger=4)
        .writeStream.format("memory")
        .queryName("contract_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.table("contract_stream")
        .toPandas()
        .sort_values("kind")
        .reset_index(drop=True)
    )
    want = (
        clips_contract(spark.read.parquet(inp))
        .toPandas()
        .sort_values("kind")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 5
    for c in want.columns:
        assert (got[c] == want[c]).all(), f"{c} mismatch"
    # independent recount of two lanes on the raw files
    raw = pd.read_parquet(inp)
    w = want.set_index("kind")
    assert w.loc["nonempty"].n_violations == int(
        (raw.bytes.isna() | (raw.bytes.map(lambda b: b is not None and len(b) == 0))).sum()
    )
    assert w.loc["in_set"].n_violations == int(
        (~raw.codec.isin(list(ITEMSIZE)) | raw.codec.isna()).sum()
    )
