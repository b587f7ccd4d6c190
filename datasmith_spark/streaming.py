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
from .pipeline import ARROW_BATCH, LABEL_COLS, label_clips
from .tables import TableLayer


def stream_clips(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of clips with the pinned explicit schema."""
    reader = spark.readStream.schema(CLIPS_SCHEMA_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_dir)


def stream_audio_quality(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Continuous-ingest audio quality filter: the fused three-lane quality
    operator (time-domain VAD/clipping + spectral SNR/bandwidth +
    speaking-rate cross-check, operators/audio_ops.py audio_quality) lifted
    onto a file-source stream. Stateless Arrow-batched mapInPandas, so
    micro-batch results are bit-identical to the batch operator over the
    same files (tests/test_streaming.py::test_stream_audio_quality_matches_batch);
    `maxFilesPerTrigger` bounds decode memory per micro-batch exactly like
    the label pipeline stream."""
    from .operators.audio_ops import audio_quality

    return audio_quality(stream_clips(spark, input_dir, max_files_per_trigger))


def stream_quality_gate(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Continuous-ingest FIVE-lane quality gate: q167's fused operator
    (VAD + spectral + speaking-rate + sample-integrity + transcript
    compressibility, one decode per clip) lifted onto a file-source
    stream. Stateless Arrow-batched mapInPandas, so micro-batch results
    are bit-identical to the batch operator over the same files — the
    single codepath that serves backfill and live ingest
    (tests/test_streaming.py::test_stream_quality_gate_matches_batch)."""
    from .operators.audio_ops import quality_gate_clips

    return quality_gate_clips(stream_clips(spark, input_dir, max_files_per_trigger))


def stream_defect_gate(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Continuous-ingest FIVE-lane recording-defect gate: q174's fused
    operator (integrity + electrical + clipping + bit-depth + looping, one
    decode per clip) lifted onto a file-source stream. Stateless
    Arrow-batched mapInPandas, so micro-batch results are bit-identical to
    the batch operator over the same files — live ingest rejects defective
    recordings with the exact batch-audit semantics
    (tests/test_streaming.py::test_stream_defect_gate_matches_batch)."""
    from .operators.audio_ops import defect_gate_clips

    return defect_gate_clips(stream_clips(spark, input_dir, max_files_per_trigger))


def stream_features(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    augment: bool = False,
) -> DataFrame:
    """Continuous-ingest featurization: the fused decode -> logmel -> cmvn
    (-> spec_augment when augment=True) chain lifted onto a file-source
    stream. Stateless Arrow-batched mapInPandas (and SpecAugment's masks
    are a pure function of clip_id, not of batch composition), so
    micro-batch results are bit-identical to the batch operator over the
    same files — the property that lets one codepath serve backfill and
    live ingest."""
    from .operators.audio_ops import cmvn_features, specaug_features

    op = specaug_features if augment else cmvn_features
    return op(stream_clips(spark, input_dir, max_files_per_trigger))


def stream_feature_qstats(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Continuous-ingest CORPUS feature statistics: q182's exact global
    log-mel reduce lifted onto a file-source stream as an unwatermarked
    complete-mode aggregation (n_mels groups — bounded state by
    construction, no eviction needed). Because the per-clip partials are
    fixed-point INTEGERS (core/resample.logmel_qstats), the incremental
    aggregate is provably bit-identical to the batch reduce over the same
    files regardless of micro-batch boundaries
    (tests/test_streaming.py::test_stream_feature_qstats_matches_batch) —
    float statistics would drift with the trigger schedule and could
    never make that promise. The live normalization constants for corpus
    CMVN (q183) can therefore be refreshed mid-ingest with exact
    batch-equivalent semantics."""
    from .operators.audio_ops import aggregate_feature_qstats, feature_qstats_clips

    parts = feature_qstats_clips(stream_clips(spark, input_dir, max_files_per_trigger))
    return aggregate_feature_qstats(parts)


EVENTS_SCHEMA_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def click_purchase_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Click->purchase attribution join shared by the batch and streaming
    paths: purchases attach to every click by the same user within the
    following 7 days (event-time range equi-join on user_id). Column set
    is the attribution record (click_id, purchase_id, user_id, both
    timestamps) — deterministic, no floats."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 7 DAYS")),
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")


def stream_click_purchase_join(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    watermark: str = "3650 days",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — the §2.9 class beside the
    stream-vs-static-store patterns: clicks and purchases arrive as two
    independent streams over the same event-log drop directory; each
    purchase joins every click by the same user in the preceding 7 days.
    Both sides carry an event-time watermark plus the time-range join
    condition, which is exactly what lets Structured Streaming BOUND the
    join state (clicks older than watermark + 7 days are evicted; without
    the range condition state grows forever). The default watermark here
    is deliberately huge so the backfill test can pin stream == batch
    bit-for-bit on unordered file drops (no on-time row is ever evicted
    early); a live deployment sets it to its real lateness budget and
    trades completeness-on-late-data for bounded state
    (tests/test_streaming.py::test_stream_stream_join_matches_batch)."""

    def _src(ev_type: str) -> DataFrame:
        reader = spark.readStream.schema(EVENTS_SCHEMA_DDL)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return (
            reader.parquet(input_dir)
            .filter(F.col("event_type") == ev_type)
            .withWatermark("ts", watermark)
        )

    return click_purchase_join(_src("click"), _src("purchase"))


def clips_contract(clips: DataFrame) -> DataFrame:
    """Ingest data contract for the clip table — the check the pipeline's
    own front door runs: per constraint kind the exact violation count
    (null id, empty/null payload, non-positive or null sample rate,
    out-of-range duration, unknown codec). One aggregate pass, stack()
    assembly, no collect — shared verbatim by the batch gate and the
    streaming monitor (stream_clips_contract)."""
    from .core.audio import ITEMSIZE

    codecs = list(ITEMSIZE)
    agg = clips.agg(
        F.sum(F.col("clip_id").isNull().cast("long")).alias("nid"),
        F.sum(
            (F.col("bytes").isNull() | (F.length("bytes") == 0)).cast("long")
        ).alias("nbytes"),
        F.sum(
            (F.col("sr_hz").isNull() | (F.col("sr_hz") <= 0)).cast("long")
        ).alias("nsr"),
        F.sum(
            (
                F.col("dur_ms").isNull()
                | (F.col("dur_ms") <= 0)
                | (F.col("dur_ms") > 24 * 3600 * 1000)
            ).cast("long")
        ).alias("ndur"),
        F.sum(
            (F.col("codec").isNull() | ~F.col("codec").isin(codecs)).cast("long")
        ).alias("ncodec"),
    )
    return agg.select(
        F.expr(
            "stack(5,"
            " 'not_null', 'clip_id', nid,"
            " 'nonempty', 'bytes',   nbytes,"
            " 'positive', 'sr_hz',   nsr,"
            " 'range',    'dur_ms',  ndur,"
            " 'in_set',   'codec',   ncodec"
            ") as (kind, col, n_violations)"
        )
    ).select(
        "kind", "col",
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("pass"),
    )


def stream_clips_contract(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Continuous data-contract MONITOR over the clip ingest stream: the
    q192-family constraint kinds computed as an unwatermarked complete-
    mode aggregation (5 output rows — bounded state by construction).
    Violation counts are exact integers, so the incremental totals are
    provably equal to the batch gate over the same files regardless of
    micro-batch boundaries — the live dashboard a lakehouse ingest gate
    alerts from (tests/test_streaming.py::
    test_stream_clips_contract_matches_batch)."""
    return clips_contract(stream_clips(spark, input_dir, max_files_per_trigger))


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


def windowed_event_metrics(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = 1,
):
    """Watermarked tumbling-window aggregation over an event-time stream.

    The late-data-handling front door for continuously-arriving metrics
    (SURVEY.md §2.9): event-time windows keyed by (window, event_type), a
    watermark bounding state (windows older than max(event_time)-delay are
    finalized and evicted — state stays O(active windows) at 10^12-event
    scale), and append-mode emission so every output row is immutable once
    written (idempotent downstream joins).

    Returns the un-sunk streaming DataFrame; callers attach their sink
    (tests drain with availableNow and compare against the batch
    F.window aggregation of the same input).
    """
    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    s = reader.parquet(input_dir)
    return (
        s.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type", "n", "total",
        )
    )


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = 1,
):
    """Streaming exact deduplication with BOUNDED state: first occurrence of
    each key within the watermark horizon passes, replays/duplicates are
    dropped, and key state older than the watermark is evicted — the
    streaming front door of the batch exact-dedup operator
    (operators/dedup.py), and the shape that survives 10^12-event streams
    (state is O(keys inside the horizon), not O(all keys ever)).

    Uses Spark's native dropDuplicatesWithinWatermark: Catalyst plans a
    streaming deduplicate whose key state is EVICTED once the watermark
    passes it — plain dropDuplicates(key_cols) would keep every key ever
    seen (the watermark only bounds state when the event-time column is
    part of the dedup key, which is exactly the gap
    dropDuplicatesWithinWatermark exists to close).

    Returns the un-sunk streaming DataFrame (tests drain with availableNow
    and compare against batch dropDuplicates of the same input).
    """
    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    s = reader.parquet(input_dir)
    s = s.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(ts_col, watermark)
    return s.dropDuplicatesWithinWatermark(key_cols)


def stateful_sessionize(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    gap_sec: float = 1800.0,
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = 1,
):
    """Custom stateful streaming operator: gap-based sessionization via
    applyInPandasWithState (the streaming analogue of q16_sessionize).

    Per-user state = ALL still-open session intervals (parallel arrays of
    start / last / count, sorted by start). Every arriving event — in order
    or late-but-above-the-watermark, in any micro-batch — merges into the
    interval it falls within gap_sec of (bridging two intervals collapses
    them), or opens a new interval. A session is emitted ONLY once the
    event-time watermark passes its last+gap, i.e. once no admissible late
    event can still extend or bridge it — eager emission on the next
    in-order event would be wrong exactly when a late event lands in the
    gap. State is O(users x intervals-above-watermark), watermark-evicted —
    the bounded-state pattern that survives 10^12-event streams.

    Emits one row per CLOSED session (append semantics; every output row is
    final). Sessions not yet provably closed stay in state until the
    watermark passes them.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    s = reader.parquet(input_dir)
    s = s.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark("ts", watermark)

    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
    )
    state_schema = "starts array<double>, lasts array<double>, ns array<bigint>"

    def func(key, pdfs, state: GroupState):
        (user_id,) = key
        closed: list[tuple] = []

        def emit(start: float, last: float, n: int) -> None:
            # whole-microsecond timestamps: float epoch seconds carry ns
            # noise that Arrow's safe us-cast rejects
            closed.append(
                (
                    user_id,
                    pd.Timestamp(int(round(start * 1e6)), unit="us"),
                    pd.Timestamp(int(round(last * 1e6)), unit="us"),
                    n,
                )
            )

        # intervals: [(start, last, n)] sorted by start
        if state.exists:
            starts, lasts, ns = state.get
            ivs = [(float(a), float(b), int(c)) for a, b, c in zip(starts, lasts, ns)]
        else:
            ivs = []

        def merge_point(t: float) -> None:
            for i, (s0, l0, n0) in enumerate(ivs):
                if s0 - gap_sec <= t <= l0 + gap_sec:
                    ivs[i] = (min(s0, t), max(l0, t), n0 + 1)
                    # the grown interval may now bridge its neighbors
                    j = i
                    while j + 1 < len(ivs) and ivs[j + 1][0] - ivs[j][1] <= gap_sec:
                        a, b = ivs[j], ivs[j + 1]
                        ivs[j] = (a[0], max(a[1], b[1]), a[2] + b[2])
                        ivs.pop(j + 1)
                    while j > 0 and ivs[j][0] - ivs[j - 1][1] <= gap_sec:
                        a, b = ivs[j - 1], ivs[j]
                        ivs[j - 1] = (a[0], max(a[1], b[1]), a[2] + b[2])
                        ivs.pop(j)
                        j -= 1
                    return
                if t < s0 - gap_sec:
                    ivs.insert(i, (t, t, 1))
                    return
            ivs.append((t, t, 1))

        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
            for t in rows["ts"].map(pd.Timestamp.timestamp).to_numpy():
                merge_point(float(t))

        # emit every interval the watermark has sealed (no admissible late
        # event can reach within gap of it anymore). Emitting at EQUALITY
        # (last + gap == wm) is safe on this engine, verified empirically
        # (tests/test_streaming.py watermark-boundary test): the late-row
        # filter for applyInPandasWithState drops rows with ts <= watermark
        # (equality INCLUDED), so no future event can satisfy
        # ts <= last + gap == wm. The filter lags one batch behind this
        # eviction watermark, but any event admitted through that lag lands
        # in THIS batch and merges above before this emission check runs.
        # A strict (<) predicate would gain nothing and can withhold a
        # sealed session forever when the stream ends at the boundary.
        wm = state.getCurrentWatermarkMs() / 1000.0
        still = [iv for iv in ivs if iv[1] + gap_sec > wm]
        for s0, l0, n0 in ivs:
            if l0 + gap_sec <= wm:
                emit(s0, l0, n0)
        if still:
            state.update((
                [s0 for s0, _, _ in still],
                [l0 for _, l0, _ in still],
                [n0 for _, _, n0 in still],
            ))
            next_close_ms = int(min(l0 + gap_sec for _, l0, _ in still) * 1000)
            # timeout must sit strictly beyond the current watermark
            state.setTimeoutTimestamp(max(next_close_ms, int(wm * 1000) + 1))
        elif state.exists:
            state.remove()

        yield pd.DataFrame(
            closed, columns=["user_id", "session_start", "session_end", "n_events"]
        )

    return s.groupBy("user_id").applyInPandasWithState(
        func,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# dup_pairs side-table schema (pinned: a run whose batches found no dups
# writes no parquet files, so readers must not depend on inference)
DUP_PAIRS_DDL = (
    "batch_id string, seen_id string, n_shared bigint, sz_batch bigint, "
    "sz_seen bigint, stream_batch int"
)


def read_dup_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """Schema-pinned reader for run_streaming_dedup's side table (well-
    defined even when no batch has found a duplicate yet)."""
    return spark.read.schema(DUP_PAIRS_DDL).parquet(
        os.path.join(out_dir, "dup_pairs")
    )


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
    land in out_dir/dup_pairs partitioned by batch_id with dynamic
    partition overwrite (idempotent under batch replay, like the label
    sink). The streaming checkpoint makes restarts resume from the last
    committed batch, so the store-append-then-crash window re-appends at
    most one batch's keys — duplicate store rows widen future matching,
    never corrupt it (set-semantics probe).

    The store lives in a SQL catalog (bucketBy needs saveAsTable);
    dup_pairs is a path-mode side table like the label pipeline's metrics.
    """
    from .operators.audio_fp import fingerprint_clips
    from .operators.incremental import ingest_batch

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
    tl_store = TableLayer("unused", catalog=store_catalog)
    pairs_dir = os.path.join(out_dir, "dup_pairs")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        keys = fingerprint_clips(batch_df)
        pairs, n_novel, n_dup = ingest_batch(spark, tl_store, store_name, keys)
        # batch_id in `pairs` is the incoming CLIP's id; the streaming
        # micro-batch partition key is stream_batch
        (
            pairs.withColumn("stream_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("stream_batch")
            .parquet(pairs_dir)
        )

    clips = stream_clips(spark, input_dir, max_files_per_trigger)
    writer = (
        clips.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(timeout_sec)
        return q
    return writer.start()


LM_DUP_PAIRS_DDL = (
    "probe_id string, match_id string, votes long, side_votes long, "
    "est_pos int, confident boolean, stream_batch int"
)


def read_lm_dup_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """Schema-pinned reader for run_streaming_landmark_dedup's side table."""
    return spark.read.schema(LM_DUP_PAIRS_DDL).parquet(
        os.path.join(out_dir, "lm_dup_pairs")
    )


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
    out_dir/lm_dup_pairs partitioned by batch id with dynamic partition
    overwrite (idempotent under batch replay); the streaming checkpoint
    resumes from the last committed batch, and the crash window between
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

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
    tl_store = TableLayer("unused", catalog=store_catalog)
    pairs_dir = os.path.join(out_dir, "lm_dup_pairs")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        keys = landmark_clips(batch_df)
        matches, n_novel, n_dup = ingest_landmark_batch(
            spark, tl_store, store_name, keys
        )
        (
            matches.withColumn("stream_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("stream_batch")
            .parquet(pairs_dir)
        )

    clips = stream_clips(spark, input_dir, max_files_per_trigger)
    writer = (
        clips.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(timeout_sec)
        return q
    return writer.start()


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
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
    tl = TableLayer(out_dir)
    clips = stream_clips(spark, input_dir, max_files_per_trigger)
    labels = label_clips(clips, n_parts=n_parts)
    _sink = make_batch_sink(tl)

    writer = (
        labels.select(*LABEL_COLS)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(timeout_sec)
        return q
    return writer.start()


def stream_image_hashes(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Continuous-ingest image fingerprinting: the q65 dHash operator
    lifted onto a file-source stream — decode + perceptual hash per
    arriving image, stateless Arrow-batched mapInPandas, so micro-batch
    results are bit-identical to the batch operator over the same files
    (the one-codepath-for-backfill-and-live property the audio quality and
    featurization lifts already pin). Downstream, the emitted (img_id,
    b0..b3) band rows feed the same near-dup machinery either as a batch
    self-join (operators/image_fp.image_neardup_pairs) or a probe against
    a persisted band-key store (the incremental-dedup shape)."""
    from .operators.image_fp import image_hashes
    from .operators.multimodal import IMAGE_SCHEMA_DDL

    reader = spark.readStream.schema(IMAGE_SCHEMA_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return image_hashes(reader.parquet(input_dir))


def stream_store_dedup(
    spark: SparkSession,
    input_dir: str,
    store_keys: DataFrame,
    col: str,
    max_files_per_trigger: int | None = None,
    m_bits: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """Continuous-ingest dedup against a seen-key store: every arriving
    micro-batch keeps only rows whose `col` is NOT among `store_keys`,
    probed through the q82 Bloom prefilter (operators/bloom.py).

    The bloom is built ONCE from the store when the stream is declared and
    pinned as a static side; each micro-batch then pays k broadcast probes
    (map-side, JVM-native) plus an exact stream-static anti-join over the
    maybe-member sliver — the per-batch cost profile that holds when the
    store has 10^12 keys but a trigger carries thousands of rows. Because
    blooms have no false negatives the retained set is VALUE-EQUAL to the
    plain stream-static left-anti join, so micro-batch == batch
    bit-for-bit (pinned by tests/test_streaming.py), the same
    one-codepath-for-backfill-and-live property as every other lift here.
    The stream's own schema is inferred from the parquet directory, like
    stream_exact_dedup above."""
    from .operators import bloom as B

    m_bits = B.BLOOM_M_BITS if m_bits is None else m_bits
    k = B.BLOOM_K if k is None else k
    schema = spark.read.parquet(input_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_dir)
    # pin BOTH static sides once at declaration: the (word, bits) filter
    # AND the distinct store projection the exact confirm join probes —
    # otherwise every micro-batch would re-scan and re-distinct the full
    # store (O(store) per trigger instead of per filter refresh)
    store_d = store_keys.select(col).distinct().localCheckpoint(eager=True)
    filt = B.bloom_build(store_d, col, m_bits, k).localCheckpoint(eager=True)
    return B.anti_join_via_bloom(
        stream, store_d, col, m_bits, k, filter_df=filt
    )


def stream_zscore_flags(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    window: int = 10,
    min_n: int = 5,
    z: int = 2,
    max_files_per_trigger: int | None = 1,
):
    """Continuous rolling z-score anomaly flags — the q101 detector
    lifted onto a stream with applyInPandasWithState.

    Per-key state is ONLY the trailing `window` integer cents values
    (bounded: window x 8 bytes per live key — the state profile that
    survives 10^12-event streams); each arriving event is flagged with
    the SAME all-integer test as the batch operator ((n*x-S)^2 >
    z^2(n*SS-S^2)) and then pushed into the deque. Within a micro-batch
    events sort by (ts, event_id), so given per-key in-order arrival
    across triggers (the Kafka partition-by-key guarantee this source
    models), the emitted flags are VALUE-EQUAL to the batch operator
    over the concatenated input — pinned in tests. Late/out-of-order
    events are evaluated against the state as-of arrival (best effort),
    the honest semantics for an alerting operator."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    s = reader.parquet(input_dir)

    out_schema = (
        "user_id bigint, event_id bigint, cents bigint, n_prev bigint, "
        "flagged boolean"
    )
    state_schema = "hist array<bigint>"
    zz = z * z

    def func(key, pdfs, state: GroupState):
        (user_id,) = key
        hist = [int(v) for v in state.get[0]] if state.exists else []
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ev, cents in zip(pdf["event_id"], pdf["cents"]):
                x, n = int(cents), len(hist)
                if n >= min_n:
                    s_ = sum(hist)
                    ss = sum(v * v for v in hist)
                    dev = n * x - s_
                    fl = dev * dev > zz * (n * ss - s_ * s_)
                else:
                    fl = False
                rows.append((user_id, int(ev), x, n, bool(fl)))
                hist.append(x)
                if len(hist) > window:
                    hist.pop(0)
        state.update((hist,))
        yield pd.DataFrame(
            rows, columns=["user_id", "event_id", "cents", "n_prev", "flagged"]
        )

    return s.groupBy("user_id").applyInPandasWithState(
        func, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_funnel(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    step_types: list[str],
    window_sec: int,
    max_files_per_trigger: int | None = 1,
):
    """Continuous ordered-funnel tracking — q94's earliest-chaining
    semantics lifted onto a stream with applyInPandasWithState.

    Per-key state is ONLY the k stage timestamps reached so far (k
    doubles per live user — bounded regardless of stream length). With
    per-key in-order arrival, the greedy forward scan sets each stage
    at the SAME instant the batch conditional-min-chain would (the
    first qualifying event in ts order IS the min), so the emitted
    stage-reached rows equal the batch funnel_user_times — pinned in
    tests. Emits one append-mode row per newly reached stage:
    (user_id, stage_idx, stage_ts). step_types must be distinct (an
    event fills at most one stage here; a duplicate-type funnel would
    let the batch min-chain reuse one event for two stages)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    s = reader.parquet(input_dir)

    out_schema = "user_id bigint, stage_idx int, stage_ts timestamp"
    state_schema = "times array<double>"
    k = len(step_types)

    def func(key, pdfs, state: GroupState):
        (user_id,) = key
        times: list[float | None] = (
            [None if t is None else float(t) for t in state.get[0]]
            if state.exists
            else [None] * k
        )
        new_rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for et, ts in zip(pdf["event_type"], pdf["ts"]):
                tsec = ts.timestamp()
                for i, want in enumerate(step_types):
                    if times[i] is not None or et != want:
                        continue
                    if i == 0 or (
                        times[i - 1] is not None
                        and times[i - 1] <= tsec <= times[i - 1] + window_sec
                    ):
                        times[i] = tsec
                        new_rows.append(
                            (
                                user_id,
                                i,
                                pd.Timestamp(int(round(tsec * 1e6)), unit="us"),
                            )
                        )
                    break  # each event can only be its first unmatched type
        state.update((times,))
        yield pd.DataFrame(new_rows, columns=["user_id", "stage_idx", "stage_ts"])

    return s.groupBy("user_id").applyInPandasWithState(
        func, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_disorder_audit(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    over_us: int = 60_000_000,
    max_files_per_trigger: int | None = 1,
):
    """Continuous event-time disorder audit — the q133 watermark-sizing
    measurement lifted onto the live stream with applyInPandasWithState,
    so the lateness profile that chooses withWatermark() delays is
    maintained AS the data arrives instead of by a nightly batch replay.

    Per-key state is six BIGINTs (running max event-time, event/late
    counts, max/sum lateness, over-threshold count) — constant bytes per
    live key at any stream length. Arrival order within a micro-batch is
    event_id (the monotone ingest sequence, exactly the batch audit's
    replay order), so with per-key in-order arrival across triggers the
    cumulative row emitted at each event is VALUE-EQUAL to the batch
    operator over the prefix — the final row per key equals q133 over
    the concatenated input (pinned in tests/test_streaming.py)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    s = reader.parquet(input_dir)

    out_schema = (
        "user_id bigint, event_id bigint, n_events bigint, n_late bigint, "
        "max_late_us bigint, sum_late_us bigint, n_late_over_1m bigint"
    )
    state_schema = (
        "seen_max bigint, n_events bigint, n_late bigint, max_late bigint, "
        "sum_late bigint, n_over bigint"
    )

    def func(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            seen_max, n_ev, n_late, mx, sm, n_over = (int(v) for v in state.get)
        else:
            seen_max, n_ev, n_late, mx, sm, n_over = -1, 0, 0, 0, 0, 0
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("event_id")
            for ev, t in zip(pdf["event_id"], pdf["t"]):
                t = int(t)
                n_ev += 1
                if seen_max >= 0 and seen_max > t:
                    late = seen_max - t
                    n_late += 1
                    sm += late
                    if late > mx:
                        mx = late
                    if late > over_us:
                        n_over += 1
                if t > seen_max:
                    seen_max = t
                rows.append((user_id, int(ev), n_ev, n_late, mx, sm, n_over))
        state.update((seen_max, n_ev, n_late, mx, sm, n_over))
        yield pd.DataFrame(
            rows,
            columns=[
                "user_id", "event_id", "n_events", "n_late",
                "max_late_us", "sum_late_us", "n_late_over_1m",
            ],
        )

    withT = s.withColumn("t", F.unix_micros(F.col("ts").cast("timestamp")))
    return withT.groupBy("user_id").applyInPandasWithState(
        func, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
