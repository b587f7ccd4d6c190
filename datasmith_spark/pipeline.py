"""The composed curation pipeline: rules -> decode -> langid -> ppl -> scrub.

One narrow Spark chain (no shuffle in the labelling pass), partition-level
checkpoint/resume, and per-partition lineage and per-(lang, codec) metrics
side tables from one aggregate over the written labels.

Scale design (10^12 clips / 1000 executors):
  * part_id = crc32(clip_id) % n_parts — uniform hash partitioning; the
    labels table is directory/bucket-partitioned by it.
  * the whole filter chain is narrow: scan -> ONE mapInPandas running
    the label kernel (operators/scan_decode.label_batch_pdf), so each row
    crosses the JVM<->Python boundary once (JVM scan) or never (fused
    manifest scan); the kernel decodes survivors of the rules only.
  * resume = parts whose latest checkpoint row is 'done' AND whose stored
    per-part input fingerprint still matches the current input are skipped
    (reference cache semantics incl. the pickled-arg cache key,
    /root/reference/src/datasmith/utils.py:69-144, bypass_cache =>
    force=True); recomputed parts are dynamic-partition-overwritten
    (idempotent rewrite). Changed input rows therefore invalidate exactly
    their own partitions; a part whose input rows were all DELETED has its
    stale labels directory dropped explicitly after the overwrite (the
    parquet-mode analogue of the Iceberg MERGE / reference INSERT OR
    REPLACE upsert).
  * side tables: one grouping-sets aggregate over the labels, sets
    (part_id) and (lang, codec), reads them once; its at most parts +
    langs x codecs rows are collected, and lineage, metrics and the
    checkpoint done-marker are appended from the driver as one pyarrow
    file each (TableLayer.append), with no Spark write job. Spark's
    partial aggregate combines map-side, so the Zipf-hot (en, pcm16) key
    needs no salt.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import rules as R
from .datagen import CLIPS_SCHEMA_DDL
from .logging_config import configure, stage_timer
from .operators.scan_decode import CLIP_COLUMNS, LABELS_SCHEMA, label_batch_pdf, scan_labels
from .tables import TableLayer

LABEL_COLS = LABELS_SCHEMA.fieldNames()

ARROW_BATCH = 256  # bytes-carrying rows are ~0.2-1 MB; keep Arrow batches bounded
_PARQUET_BATCH = "spark.sql.parquet.columnarReaderBatchSize"

# columns hashed into the per-part input fingerprint. Deliberately excludes
# the audio payload: at 100 TB the fingerprint pre-scan must stay a
# column-pruned metadata scan (bytes are immutable blobs in practice; a
# payload swap without any metadata change is not detected — use force=True
# for that).
META_FP_COLS = ("clip_id", "sr_hz", "dur_ms", "codec", "transcript")
_FP_EMPTY = "0:0"  # fingerprint of a part with no input rows
# sentinel written by fingerprint=False runs; a later fingerprinted resume
# treats it as matching-any (toggling the flag must not silently defeat
# resume by recomputing every part)
_FP_ANY = "<unfingerprinted>"


def _log_schema(*fields: tuple[str, pa.DataType]) -> pa.Schema:
    """Side-table schema: the row's columns plus the append time `ts`."""
    return pa.schema([*fields, ("ts", pa.timestamp("us", tz="UTC"))])


# checkpoint row schema; n_parts stamps the partition LAYOUT the run wrote,
# so a later run with a different n_parts is detected and recomputes clean
_CP_SCHEMA = _log_schema(
    ("part_id", pa.int32()), ("status", pa.string()), ("run_id", pa.string()),
    ("had_rows", pa.int32()), ("fingerprint", pa.string()), ("n_parts", pa.int32()),
)
_LINEAGE_SCHEMA = _log_schema(
    ("part_id", pa.int32()), ("n_in", pa.int64()), ("n_keep", pa.int64()),
    *[(f"drop_{s}", pa.int64()) for s in R.STAGES],
    ("run_id", pa.string()),
)
_METRICS_SCHEMA = _log_schema(
    ("lang", pa.string()), ("codec", pa.string()), ("n", pa.int64()), ("n_keep", pa.int64()),
    ("pii_total", pa.int64()), ("tox_total", pa.int64()), ("keep_rate", pa.float64()),
    ("run_id", pa.string()),
)


def part_fingerprints(clips: DataFrame, n_parts: int, payload: bool = False) -> dict[int, str]:
    """Per-part content fingerprint: order-independent sum of per-row crc32
    over the metadata columns, plus the row count.

    The Spark analogue of the reference's pickled-argument cache keys
    (/root/reference/src/datasmith/utils.py:94-101): a checkpoint is valid
    only for the exact input it was computed from. One column-pruned
    aggregation scan; the shuffle key is part_id (uniform).

    payload=True additionally folds the audio payload's length + a crc32 of
    its first 4 KiB into each row hash — catches a payload swap with
    unchanged metadata at the cost of reading the bytes column in the
    pre-scan (opt-in: at 100 TB the default fingerprint must stay a
    column-pruned metadata scan)."""
    part = F.pmod(F.crc32(F.col("clip_id").cast("binary")), F.lit(n_parts)).cast("int")
    fields = [F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in META_FP_COLS]
    if payload:
        fields.append(F.coalesce(F.length("bytes").cast("string"), F.lit("<null>")))
        fields.append(
            F.coalesce(F.crc32(F.substring(F.col("bytes"), 1, 4096)).cast("string"), F.lit("<null>"))
        )
    row_h = F.crc32(F.concat_ws("|", *fields).cast("binary"))
    sums = (
        clips.select(part.alias("part_id"), row_h.alias("h"))
        .groupBy("part_id")
        .agg(F.sum("h").alias("s"), F.count("*").alias("c"))
    )
    if not payload:
        rows = sums.collect()
    else:
        # the vectorized parquet reader reserves a whole batch of `bytes`
        # (default 4,096 rows of ~0.2-1 MB payloads) contiguously in the
        # driver heap: read the payload pre-scan in Arrow-sized batches
        conf = clips.sparkSession.conf
        prev = conf.get(_PARQUET_BATCH, None)
        conf.set(_PARQUET_BATCH, str(ARROW_BATCH))
        try:
            rows = sums.collect()
        finally:
            if prev is None:
                conf.unset(_PARQUET_BATCH)
            else:
                conf.set(_PARQUET_BATCH, prev)
    return {r.part_id: f"{r.s}:{r.c}" for r in rows}


def label_clips(clips: DataFrame, n_parts: int = 32) -> DataFrame:
    """Full filter chain over any clips DataFrame (batch or streaming):
    ONE mapInPandas running label_batch_pdf; returns the labels DataFrame
    (one row per clip)."""

    def _label(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield label_batch_pdf(pdf, n_parts)

    return clips.select(*CLIP_COLUMNS).mapInPandas(_label, schema=LABELS_SCHEMA)


def _set_arrow(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))


def _append_rows(tl: TableLayer, name: str, schema: pa.Schema, rows: list[tuple]) -> None:
    """Append rows the driver holds (columns as in `schema`, less `ts`) as
    ONE file, so a done-marker commits with one rename."""
    ts = datetime.now(timezone.utc)
    tl.append(pa.Table.from_pylist(
        [dict(zip(schema.names, (*r, ts))) for r in rows], schema=schema
    ), name)


def _finish(log, run_id: str, t0: float, parts: int, n_labeled: int) -> dict:
    """Log the run's `done` event and build run_pipeline's result."""
    wall = time.time() - t0
    log.info(
        "run %s done: %d parts, %d rows labeled in %.1fs",
        run_id, parts, n_labeled, wall,
        extra={"run_id": run_id, "event": "done", "parts": parts,
               "rows": n_labeled, "wall_sec": round(wall, 3)},
    )
    return {"run_id": run_id, "parts_processed": parts, "n_labeled": n_labeled, "wall_sec": wall}


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame | None,
    out_dir: str,
    n_parts: int = 32,
    force: bool = False,
    fail_after_parts: int | None = None,
    input_dir: str | None = None,
    fingerprint: bool = True,
    fingerprint_payload: bool = False,
    catalog: str | None = None,
) -> dict:
    """Run with partition-level checkpoint/resume.

    force=True mirrors the reference's bypass_cache
    (/root/reference/src/datasmith/utils.py:85-88): recompute all parts.
    fail_after_parts: test hook — process only that many pending parts this
    run (simulates a mid-job crash for resume-idempotency tests).
    input_dir: when the clips live in a parquet directory, pass it (clips
    may be None) to use the fused manifest scan — scan+rules+decode in one
    Python stage, pending-partition pruning applied before decode.
    fingerprint=True (default) records a per-part input fingerprint in the
    checkpoints table and treats a part as done only if its stored
    fingerprint matches the current input — changed input rows invalidate
    exactly their own partitions (reference arg-blob cache-key semantics).
    Pass False to skip the metadata pre-scan and trust part ids alone.
    Checkpoints then carry an "<unfingerprinted>" sentinel: the first
    fingerprinted resume keeps those parts done and ADOPTS the current
    input fingerprint for them (no recompute — changes made while
    unfingerprinted are trusted away, by construction of fingerprint=False),
    after which change invalidation and deletion semantics apply normally.
    fingerprint_payload=True folds payload length + a head-of-blob crc32
    into the fingerprint (detects a bytes swap with unchanged metadata, at
    the cost of a non-column-pruned pre-scan).
    catalog: SQL namespace for the output tables (e.g. an Iceberg
    "local.db" or the builtin "spark_catalog.curation") — labels/lineage/
    metrics/checkpoints become catalog tables with identical semantics
    (see tables.TableLayer); out_dir is then only a log tag.
    """
    t0 = time.time()
    _set_arrow(spark)
    tl = TableLayer(out_dir, catalog=catalog)
    run_id = uuid.uuid4().hex[:12]
    log = configure()

    # ---- partition-layout guard: part_id = crc32(clip_id) % n_parts, so a
    # DIFFERENT n_parts is a different table layout — resuming across it
    # would mix two partitionings in one labels table (shrink 32->16 leaves
    # stale part_id=16..31 directories behind and every clip appears twice).
    # The layout is stamped into every checkpoint row; on mismatch the old
    # labels + checkpoints are wiped and everything recomputes (the
    # reference's cache key covers every argument — partitioning config is
    # an argument, /root/reference/src/datasmith/utils.py:94-101).
    if tl.exists(spark, "checkpoints"):
        cp_raw = tl.read(spark, "checkpoints")
        if "n_parts" not in cp_raw.columns:
            stored_np = None  # pre-guard checkpoints: layout unknown
        else:
            # a null value (schema-merged old rows) means layout unknown too —
            # treat like a missing column and recompute, don't TypeError
            raw_np = cp_raw.orderBy(F.col("ts").desc()).select("n_parts").first()[0]
            stored_np = None if raw_np is None else int(raw_np)
        if stored_np != n_parts:
            log.warning(
                "partition layout changed (checkpointed n_parts=%s, requested %d): "
                "wiping labels+checkpoints and recomputing all parts",
                stored_np, n_parts,
                extra={"out_dir": out_dir, "event": "layout_change", "parts": n_parts},
            )
            tl.wipe("labels")
            tl.wipe("checkpoints")

    def _fp_source() -> DataFrame:
        # the pinned schema spares Spark a schema-inference job per call
        src = clips if input_dir is None else spark.read.schema(CLIPS_SCHEMA_DDL).parquet(input_dir)
        cols = list(META_FP_COLS) + (["bytes"] if fingerprint_payload else [])
        return src.select(*cols)

    fps: dict[int, str] = {}
    if fingerprint:
        fps = part_fingerprints(_fp_source(), n_parts, payload=fingerprint_payload)

    all_parts = list(range(n_parts))
    done: set[int] = set()
    if not force and tl.exists(spark, "checkpoints"):
        latest = tl.latest_per_key(spark, "checkpoints", ["part_id"], "ts").filter(
            F.col("status") == "done"
        )
        if fingerprint:
            if "fingerprint" in latest.columns:
                stored = {r.part_id: r.fingerprint for r in latest.select("part_id", "fingerprint").collect()}
                # _FP_ANY (written by a fingerprint=False run, which trusts
                # part ids alone) counts as done only while the part still
                # has input rows; it is then ADOPTED below — re-checkpointed
                # with the current fingerprint — so every LATER input change
                # invalidates it normally. An _FP_ANY part whose input rows
                # vanished is NOT done: it gets recomputed-empty and its
                # stale labels directory dropped (deletion semantics).
                done = {
                    p for p, f in stored.items()
                    if f == fps.get(p, _FP_EMPTY) or (f == _FP_ANY and p in fps)
                }
                adopted = [p for p, f in stored.items() if f == _FP_ANY and p in fps]
                if adopted:
                    _append_rows(tl, "checkpoints", _CP_SCHEMA, [
                        (p, "done", run_id, 1, fps[p], n_parts) for p in adopted
                    ])
            # checkpoints written before fingerprints existed: treat all as
            # stale (recompute is idempotent; serving stale labels is not)
        else:
            done = {r.part_id for r in latest.select("part_id").collect()}
    pending = [p for p in all_parts if p not in done]
    if fail_after_parts is not None:
        pending = pending[:fail_after_parts]
    log.info(
        "run %s: %d pending, %d checkpoint-valid of %d parts",
        run_id, len(pending), len(done), n_parts,
        extra={"run_id": run_id, "parts": len(pending), "out_dir": out_dir, "event": "resume"},
    )
    if not pending:
        return _finish(log, run_id, t0, 0, 0)

    if input_dir is not None:
        labels = scan_labels(spark, input_dir, n_parts, parts_filter=pending)
    else:
        part_col = F.pmod(F.crc32(F.col("clip_id").cast("binary")), F.lit(n_parts)).cast("int")
        subset = clips.filter(part_col.isin(pending))
        labels = label_clips(subset, n_parts=n_parts)

    with stage_timer(log, "label+write", run_id=run_id, parts=len(pending)):
        tl.overwrite_partitions(labels, "labels", "part_id")

    # deletion semantics (reference INSERT OR REPLACE upsert,
    # /root/reference/src/datasmith/utils.py:130-138): a pending part with NO
    # current input rows (all its clips were deleted) produces no output, so
    # dynamic overwrite leaves its old labels directory behind — drop it
    # explicitly. Only knowable when the input was fingerprinted.
    if fingerprint:
        emptied = [p for p in pending if p not in fps]
        if emptied:
            log.info(
                "dropping %d label partition(s) with no remaining input: %s",
                len(emptied), emptied,
                extra={"run_id": run_id, "event": "drop_partitions", "parts": len(emptied)},
            )
            tl.drop_partitions("labels", "part_id", emptied)

    # ---- side tables: ONE grouping-sets aggregate over the labels this run
    # wrote, collected (at most parts + langs x codecs rows). by_lang = 0
    # rows are per-part lineage, = 1 rows per-(lang, codec) metrics; codec
    # rides along in labels, so no join back against the clips table.
    lab = tl.read(spark, "labels", schema=labels.schema).filter(F.col("part_id").isin(pending))
    with stage_timer(log, "side tables", run_id=run_id):
        rows = (
            lab.withColumn("lang", F.coalesce(F.col("lang"), F.lit("?")))
            .groupingSets([["part_id"], ["lang", "codec"]], "part_id", "lang", "codec")
            .agg(
                F.grouping("part_id").alias("by_lang"),
                F.count("*").alias("n"),
                F.sum(F.col("keep").cast("long")).alias("n_keep"),
                F.sum("pii_count").alias("pii_total"),
                F.sum("tox_count").alias("tox_total"),
                *[
                    F.sum((F.col("drop_stage") == s).cast("long")).alias(f"drop_{s}")
                    for s in R.STAGES
                ],
            )
            .withColumn("keep_rate", F.col("n_keep") / F.col("n"))
            .collect()
        )
        lineage = [r for r in rows if not r.by_lang]
        _append_rows(tl, "lineage", _LINEAGE_SCHEMA, [
            (r.part_id, r.n, r.n_keep, *[r[f"drop_{s}"] for s in R.STAGES], run_id)
            for r in lineage
        ])
        _append_rows(tl, "metrics", _METRICS_SCHEMA, [
            (r.lang, r.codec, r.n, r.n_keep, r.pii_total, r.tox_total, r.keep_rate, run_id)
            for r in rows if r.by_lang
        ])

    # ---- checkpoints last (a crash before this point leaves parts pending =>
    # they are recomputed and idempotently overwritten on resume)
    n_labeled = sum(r.n for r in lineage)
    counted = {r.part_id for r in lineage}
    _append_rows(tl, "checkpoints", _CP_SCHEMA, [
        (p, "done", run_id, int(p in counted),
         fps.get(p, _FP_EMPTY) if fingerprint else _FP_ANY, n_parts)
        for p in pending
    ])

    return _finish(log, run_id, t0, len(pending), n_labeled)

