"""Structured Streaming lift of the curation pipeline.

The reference is entirely batch (SURVEY.md §2.9) — its incremental behavior
is re-download-skip + memo-cache (/root/reference/src/datasmith/utils.py:85-119,
/root/reference/src/datasmith/scrape/utils.py:116-125). On Spark the same
filter chain lifts unchanged onto a file-source stream: label_clips is ONE
mapInPandas of the label kernel (operators/scan_decode.label_batch_pdf),
stateless per row, so `readStream -> label_clips -> foreachBatch(write)` is
the streaming analogue of the batch pipeline (each micro-batch's rows
cross into Python once), with exactly-once sink semantics provided by the
streaming checkpoint + idempotent per-batch writes: every output table is
partitioned by batch_id, so a batch replayed after a crash (append landed,
checkpoint commit didn't) replaces exactly its own partitions instead of
duplicating rows. Each micro-batch runs ONE Spark job, a `toArrow()` that
runs the label kernel; the driver commits the labels and their metrics
rollup as one pyarrow-written file per partition, with no Spark write job.

Scale design: at 10^12-clip scale this is the continuous-ingest front door —
new clip files land in the source directory (or an Iceberg table with
incremental scan), `maxFilesPerTrigger` bounds micro-batch size so decode
memory stays flat, and so does the driver's: the sink collects each
micro-batch's label rows (no audio; ~170 bytes a clip in Arrow, 0.52 MB for
3,200 clips) before it writes them, so the largest micro-batch is bounded
by driver memory. Without `maxFilesPerTrigger` an availableNow drain is one
micro-batch holding every pending clip's labels on the driver. The labels
sink is directory-partitioned by batch_id alone — batch_id is what makes
batch replay idempotent; part_id stays a data column (splitting a
micro-batch of a few dozen clips over up to n_parts directories costs a
file per part and lowers burst throughput).
The batch path is partitioned by part_id instead. TableLayer.read_unified
reads EITHER layout back in batch shape (drops batch_id when present),
keeping batch and streaming output interchangeable downstream. A stream
out dir written with the earlier (batch_id, part_id) layout cannot be
resumed: Spark's partition discovery rejects the mixed directory depths.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import CLIPS_SCHEMA_DDL
from .pipeline import _set_arrow, label_clips
from .tables import TableLayer, _glob_escape


def _file_stream(
    spark: SparkSession, input_dir: str, schema, max_files_per_trigger: int | None
) -> DataFrame:
    """Parquet file-source stream over input_dir, schema pinned (DDL or
    StructType); max_files_per_trigger, when set, bounds each micro-batch.

    input_dir is a Hadoop path pattern, so a directory whose path holds a
    glob character is refused: read raw, `in[1]` matches `in1`; escaped,
    Spark 4.1's file source lists the right files but each micro-batch
    reads every file of the directory once per file it lists."""
    if os.path.isdir(input_dir) and _glob_escape(input_dir) != input_dir:
        raise ValueError(f"cannot stream {input_dir!r}: its path holds a glob character")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_dir)


def _run_foreach_batch(
    df: DataFrame, sink, out_dir: str, available_now: bool, timeout_sec: float | None
):
    """Start `df` into the foreachBatch `sink`, checkpointed under
    out_dir/_stream_checkpoint. available_now=True drains the pending input
    (waiting up to timeout_sec); False returns the running query."""
    writer = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .outputMode("append")
    )
    if not available_now:
        return writer.start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(timeout_sec)
    return q


def stream_clips(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of clips with the pinned explicit schema."""
    return _file_stream(spark, input_dir, CLIPS_SCHEMA_DDL, max_files_per_trigger)


def _write_batch_metrics(tl: TableLayer, batch_id: int, labels: pa.Table) -> None:
    """Roll a micro-batch's labels up per (lang, codec) in the driver and
    commit them as the metrics partition `batch_id=N`, one file.

    Keeps Spark's aggregate semantics: `lang` keyed as in run_pipeline
    (rows dropped before langid count under "?"), null keys form their own
    group, and a sum over only nulls is null."""
    t = pa.table({
        "lang": pc.coalesce(labels["lang"], pa.scalar("?")),
        "codec": labels["codec"],
        "keep": labels["keep"].cast(pa.int64()),
        "pii_count": labels["pii_count"],
        "tox_count": labels["tox_count"],
    })
    g = t.group_by(["lang", "codec"]).aggregate([
        ([], "count_all"), ("keep", "sum"), ("pii_count", "sum"), ("tox_count", "sum"),
    ])
    n, n_keep = g["count_all"], g["keep_sum"]
    out = pa.table({
        "lang": g["lang"],
        "codec": g["codec"],
        "n": n,
        "n_keep": n_keep,
        "pii_total": g["pii_count_sum"],
        "tox_total": g["tox_count_sum"],
        "keep_rate": pc.divide(n_keep.cast(pa.float64()), n.cast(pa.float64())),
        "run_id": pa.array([f"stream-{batch_id}"] * len(g), pa.string()),
        "ts": pa.array([datetime.now(timezone.utc)] * len(g), pa.timestamp("us", tz="UTC")),
    })
    tl.replace_partition(out, "metrics", "batch_id", batch_id)


def make_batch_sink(tl: TableLayer):
    """foreachBatch sink with idempotent-per-batch semantics, one Spark job
    per micro-batch.

    The one job is `toArrow()`: it runs the label kernel and brings the
    batch's labels to the driver. They are committed as the partition
    `labels/batch_id=N` (part_id stays a data column), one parquet file
    swapped in whole (TableLayer.replace_partition), and rolled up per
    (lang, codec) into `metrics/batch_id=N` the same way
    (_write_batch_metrics). The driver holds the whole micro-batch's labels
    while it writes them; bound the batch with maxFilesPerTrigger
    (stream_clips) when a backlog's labels would not fit. If the job dies
    after the write but before the streaming checkpoint commits, the
    replayed batch (same batch_id, same offsets) replaces exactly the
    partitions it wrote before — no duplicate label or metrics rows. An
    empty batch writes nothing. Factored out so tests can replay a batch
    directly (tests/test_streaming.py::test_batch_replay_idempotent).

    Path-mode only: the replay-idempotence contract here is built on
    path-level partition replacement; catalog-mode streaming would ride
    Iceberg's own exactly-once commit protocol instead (off-sandbox).
    """
    if tl.catalog is not None:
        raise NotImplementedError(
            "streaming sink is path-mode only; use TableLayer(base_dir) without catalog"
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        labels = batch_df.toArrow()
        if labels.num_rows == 0:
            return
        tl.replace_partition(labels, "labels", "batch_id", int(batch_id))
        _write_batch_metrics(tl, int(batch_id), labels)

    return _sink


# dup_pairs side-table schema (pinned: a run whose batches found no dups
# writes no parquet files, so readers must not depend on inference)
DUP_PAIRS_DDL = (
    "batch_id string, seen_id string, n_shared bigint, sz_batch bigint, "
    "sz_seen bigint, stream_batch int"
)


def read_dup_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """Schema-pinned reader for run_streaming_dedup's side table (well-
    defined even when no batch has found a duplicate yet)."""
    return TableLayer(out_dir).read(spark, "dup_pairs", schema=DUP_PAIRS_DDL)


def run_streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    store_catalog: str,
    store_name: str = "seen_keys",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    timeout_sec: float | None = 600.0,
):
    """Continuous-ingest near-dup dedup: every micro-batch of clips is
    fingerprinted, probed against the persisted bucketed seen-key store
    (operators/incremental.py — only the batch shuffles), and only novel
    clips' keys are appended; detected (batch_id-clip, seen-clip) pairs
    land in out_dir/dup_pairs, one partition stream_batch=N per micro-
    batch, staged and swapped in whole by TableLayer.overwrite_partitions
    (idempotent under batch replay, like the label sink). The streaming
    checkpoint makes restarts resume from the last committed batch, so the
    store-append-then-crash window re-appends at most one batch's keys —
    duplicate store rows widen future matching, never corrupt it
    (set-semantics probe).

    The store lives in a SQL catalog (bucketBy needs saveAsTable);
    dup_pairs is a path-mode side table like the label pipeline's metrics.
    """
    from .operators.audio_fp import fingerprint_clips
    from .operators.incremental import ingest_batch

    _set_arrow(spark)
    tl, tl_store = TableLayer(out_dir), TableLayer("unused", catalog=store_catalog)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        pairs, _, _ = ingest_batch(spark, tl_store, store_name, fingerprint_clips(batch_df))
        # batch_id in `pairs` is the incoming CLIP's id; the streaming
        # micro-batch partition key is stream_batch
        pairs = pairs.withColumn("stream_batch", F.lit(int(batch_id)))
        tl.overwrite_partitions(pairs, "dup_pairs", "stream_batch")

    clips = stream_clips(spark, input_dir, max_files_per_trigger)
    return _run_foreach_batch(clips, _sink, out_dir, available_now, timeout_sec)


LM_DUP_PAIRS_DDL = (
    "probe_id string, match_id string, votes long, side_votes long, "
    "est_pos int, confident boolean, stream_batch int"
)


def read_lm_dup_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """Schema-pinned reader for run_streaming_landmark_dedup's side table."""
    return TableLayer(out_dir).read(spark, "lm_dup_pairs", schema=LM_DUP_PAIRS_DDL)


def run_streaming_landmark_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    store_catalog: str,
    store_name: str = "lm_postings",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    timeout_sec: float | None = 600.0,
):
    """Continuous-ingest SHIFT-INVARIANT dedup: every micro-batch of clips
    is landmarked (operators/landmark.py), probed against the persisted
    bucketed posting store via landmark_lookup (per-clip argmax + the
    votes/dominance confidence verdict — so a delayed / trimmed-intro
    re-upload of anything ever ingested is caught at its offset), and only
    novel clips' postings are appended. Detected matches land in
    out_dir/lm_dup_pairs, one partition stream_batch=N per micro-batch,
    staged and swapped in whole by TableLayer.overwrite_partitions
    (idempotent under batch replay); the streaming checkpoint resumes
    from the last committed batch, and the crash window between
    store-append and checkpoint-commit re-appends at most one batch's
    postings — which only widens vote counts, never flips a verdict
    (run_streaming_dedup's contract, lifted from set-membership keys to
    (hash, t) postings).

    This is the streaming twin of q157/q158: the same kernel, the same
    stop-hash budget, the same integer verdict — the corpus is never
    re-self-joined; each ingest joins ONE bounded batch against the
    bucketed store with zero store-side shuffle.
    """
    from .operators.landmark import ingest_landmark_batch, landmark_clips

    _set_arrow(spark)
    tl, tl_store = TableLayer(out_dir), TableLayer("unused", catalog=store_catalog)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        keys = landmark_clips(batch_df)
        matches, _, _ = ingest_landmark_batch(spark, tl_store, store_name, keys)
        matches = matches.withColumn("stream_batch", F.lit(int(batch_id)))
        tl.overwrite_partitions(matches, "lm_dup_pairs", "stream_batch")

    clips = stream_clips(spark, input_dir, max_files_per_trigger)
    return _run_foreach_batch(clips, _sink, out_dir, available_now, timeout_sec)


def run_streaming_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    n_parts: int = 32,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    timeout_sec: float | None = 600.0,
):
    """Run the full filter chain as a streaming job.

    available_now=True drains everything currently in input_dir and stops
    (batch-equivalent semantics for tests); False runs continuously until
    the caller stops the query. With max_files_per_trigger=None a drain is
    one micro-batch, whose labels the driver holds (make_batch_sink).

    Each micro-batch writes its labels and metrics into batch_id-keyed
    partitions that a replayed batch overwrites (make_batch_sink); the
    streaming checkpoint (out_dir/_stream_checkpoint) makes
    restarts resume from the last committed batch without reprocessing.
    """
    _set_arrow(spark)
    labels = label_clips(stream_clips(spark, input_dir, max_files_per_trigger), n_parts=n_parts)
    sink = make_batch_sink(TableLayer(out_dir))
    return _run_foreach_batch(labels, sink, out_dir, available_now, timeout_sec)
