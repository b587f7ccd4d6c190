"""The labelling kernel and the fused manifest scan that feeds it.

`label_batch_pdf` is the whole filter chain (rules -> decode -> langid ->
ppl -> scrub) over one pandas batch of raw clip rows, in two halves:

  * `label_head_pdf` — part_id, stage-R rules, audio decode features and
    the decode-stage drop; `bytes` is consumed here, so its output rows are
    ~100 bytes (POST_DECODE_SCHEMA);
  * `label_tail_pdf` — langid, perplexity and scrub over post-decode rows,
    producing the final labels (LABELS_SCHEMA).

Every source runs the kernel in ONE mapInPandas: `pipeline.label_clips`
over any clips DataFrame (JVM parquet scan, file-source stream, in-memory
frame), and `scan_labels` over a directory of parquet files that pyarrow
reads inside the worker (`manifest_scan`, the one worker-side scan every
digest operator also runs on), so audio bytes never cross a process
boundary.
`scan_rules_decode` runs the head alone; the q27/q28 queries persist its
output and run the tail over it.

Parity: the per-row kernels are the same core functions the single-process
oracle uses (core.rules, core.audio, core.langid, core.lm, core.scrub), and
part_id uses zlib.crc32, which matches F.crc32 bit-for-bit — so every source
produces labels identical to oracle.oracle_labels (tests/test_pipeline.py,
tests/test_scan_decode.py, tests/test_streaming.py).

Trade-off of the manifest scan vs the JVM scan: no Catalyst row-group
pruning / predicate pushdown. Use it when the query consumes effectively
all rows and the payload column dominates row width (true for the curation
pipeline); use label_clips over a JVM scan when selective predicates would
prune it.
"""

from __future__ import annotations

import os
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core import audio
from ..core import rules as R

CLIP_COLUMNS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]

DECODE_FEATURE_COLS = ("n_samples", "rms", "peak", "clip_rate", "finite_frac", "decode_ok")
_DECODE_FIELDS = [
    T.StructField("n_samples", T.LongType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("clip_rate", T.DoubleType()),
    T.StructField("finite_frac", T.DoubleType()),
    T.StructField("decode_ok", T.BooleanType()),
]

POST_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("drop_stage", T.StringType()),
        T.StructField("drop_reasons", T.ArrayType(T.StringType())),
    ]
    + _DECODE_FIELDS
)
_POST_COLS = [f.name for f in POST_DECODE_SCHEMA.fields]

LABELS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("drop_stage", T.StringType()),
        T.StructField("drop_reasons", T.ArrayType(T.StringType())),
        T.StructField("lang", T.StringType()),
        T.StructField("lang_prob", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("pii_count", T.IntegerType()),
        T.StructField("tox_count", T.IntegerType()),
        T.StructField("scrubbed_transcript", T.StringType()),
    ]
)
_LABEL_COLS = [f.name for f in LABELS_SCHEMA.fields]


def list_manifest(input_dir: str) -> list[str]:
    """All parquet leaf files under input_dir (non-recursive, sorted)."""
    return sorted(
        os.path.join(input_dir, f)
        for f in os.listdir(input_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def decode_features_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-batch decode kernel: add feature columns, drop `bytes`.

    Rows already dropped (drop_stage set) are skipped and get null features.
    """
    n = len(pdf)
    ns = np.zeros(n, dtype=np.int64)
    rms = np.zeros(n, dtype=np.float64)
    peak = np.zeros(n, dtype=np.float64)
    clip = np.zeros(n, dtype=np.float64)
    fin = np.zeros(n, dtype=np.float64)
    ok = np.zeros(n, dtype=bool)
    alive = pdf["drop_stage"].isna().to_numpy()
    bufs = pdf["bytes"].to_numpy()
    codecs = pdf["codec"].to_numpy()
    for i in np.flatnonzero(alive):
        pcm = audio.decode(bufs[i], codecs[i])
        ok[i] = pcm is not None
        # integer codecs decode to finite float64 by construction: skip the
        # isfinite scan (bitwise-identical result, audio.pcm_features)
        ns[i], rms[i], peak[i], clip[i], fin[i] = audio.pcm_features(
            pcm, assume_finite=codecs[i] != "float32"
        )
    out = pdf.drop(columns=["bytes"])
    out["n_samples"] = ns
    out["rms"] = rms
    out["peak"] = peak
    out["clip_rate"] = clip
    out["finite_frac"] = fin
    out["decode_ok"] = ok
    # dead rows: feature columns are meaningless -> null them
    dead = ~alive
    if dead.any():
        for c in DECODE_FEATURE_COLS:
            out[c] = out[c].astype(object)
            out.loc[dead, c] = None
    return out


def label_head_pdf(pdf: pd.DataFrame, n_parts: int) -> pd.DataFrame:
    """Stages R and D for one batch of raw clip rows -> post-decode rows.

    Adds part_id, runs core.rules.rule_reasons, decodes the audio of the
    rows that pass, and applies core.rules.decode_reasons to the features.
    """
    part_ids, stages, reasons = [], [], []
    for row in pdf.itertuples(index=False):
        part_ids.append(zlib.crc32(row.clip_id.encode("utf-8")) % n_parts)
        # null int32 columns arrive in pandas as float64 NaN, not None —
        # pd.isna covers both (None and NaN)
        rs = R.rule_reasons(
            None if pd.isna(row.codec) else row.codec,
            None if pd.isna(row.sr_hz) else int(row.sr_hz),
            None if pd.isna(row.dur_ms) else int(row.dur_ms),
            None if row.bytes is None else len(row.bytes),
            None if pd.isna(row.transcript) else row.transcript,
        )
        stages.append(R.STAGE_RULES if rs else None)
        reasons.append(rs)
    pdf = pdf.reset_index(drop=True)
    pdf["part_id"] = pd.array(part_ids, dtype="int32")
    pdf["drop_stage"] = stages
    pdf["drop_reasons"] = reasons
    post = decode_features_pdf(pdf)[_POST_COLS]

    for i in np.flatnonzero(post["drop_stage"].isna().to_numpy()):
        d = R.decode_reasons(
            bool(post["decode_ok"].iat[i]),
            float(post["rms"].iat[i]),
            float(post["peak"].iat[i]),
            float(post["finite_frac"].iat[i]),
        )
        if d:
            stages[i] = R.STAGE_DECODE
            reasons[i] = d
    post["drop_stage"] = pd.array(stages, dtype="string")
    post["drop_reasons"] = reasons
    return post


def label_tail_pdf(post: pd.DataFrame) -> pd.DataFrame:
    """Stages L, P and S over post-decode rows (label_head_pdf's output,
    from the head directly or read back from Spark) -> final labels.

    Stage precedence and retained values match the oracle: a row dropped at
    stage k keeps every enrichment computed at stages < k plus the one that
    failed it; rows dropped earlier pass through untouched.
    """
    from ..core import langid as L
    from ..core import lm as M
    from ..core.scrub import count_words, scrub_text

    n = len(post)
    stage = np.array([None if pd.isna(s) else s for s in post["drop_stage"]], dtype=object)
    reasons = [list(r) for r in post["drop_reasons"]]

    lid = L.model()
    lm_ = M.model()
    texts = post["transcript"].to_numpy(dtype=object)
    lang = np.full(n, None, dtype=object)
    # never-scored rows carry None (lang_prob) / NaN (ppl, counts); both
    # reach Spark as null
    prob: list = [None] * n
    ppl = np.full(n, np.nan)
    pii = np.full(n, np.nan)
    tox = np.full(n, np.nan)
    scrubbed = np.full(n, None, dtype=object)

    # ---- langid: one batched score over all still-alive rows (bit-identical
    # to per-row predict_one — canonical reduceat order, core/langid.py)
    alive_idx = np.array([i for i in range(n) if stage[i] is None], dtype=np.int64)
    if alive_idx.size:
        b_langs, b_probs = lid.predict_batch([texts[i] for i in alive_idx])
        for j, i in enumerate(alive_idx):
            lg, p = b_langs[j], b_probs[j]
            lang[i], prob[i] = lg, p
            if lg is None or p < R.LANG_PROB_MIN:
                stage[i] = R.STAGE_LANGID
                reasons[i] = ["lang_confidence"]

    # ---- perplexity: batched over rows that survived langid
    alive_idx = np.array([i for i in range(n) if stage[i] is None], dtype=np.int64)
    if alive_idx.size:
        b_ppl = lm_.ppl_batch([texts[i] for i in alive_idx], [lang[i] for i in alive_idx])
        for j, i in enumerate(alive_idx):
            v = float(b_ppl[j])
            ppl[i] = v
            if not lm_.in_band(v, lang[i]):
                stage[i] = R.STAGE_PPL
                reasons[i] = ["ppl_outlier"]

    # ---- scrub (regex-bound; stays per surviving row)
    for i in range(n):
        if stage[i] is not None:
            continue
        s, pc, tc = scrub_text(texts[i])
        nw = count_words(texts[i])
        scrubbed[i], pii[i], tox[i] = s, pc, tc
        if nw > 0 and tc / nw > R.TOX_RATIO_MAX:
            stage[i] = R.STAGE_SCRUB
            reasons[i] = ["toxicity"]

    out = pd.DataFrame(
        {
            "clip_id": post["clip_id"],
            "part_id": post["part_id"],
            "codec": post["codec"],
            "keep": pd.array([s is None for s in stage], dtype="boolean"),
            "drop_stage": pd.array(list(stage), dtype="string"),
            "drop_reasons": reasons,
            "lang": pd.array(list(lang), dtype="string"),
            "lang_prob": prob,
            "ppl": ppl,
            "pii_count": pd.array(pii, dtype="Int32"),
            "tox_count": pd.array(tox, dtype="Int32"),
            "scrubbed_transcript": pd.array(list(scrubbed), dtype="string"),
        }
    )
    return out[_LABEL_COLS]


def label_batch_pdf(pdf: pd.DataFrame, n_parts: int) -> pd.DataFrame:
    """Whole filter chain for one batch of raw clip rows (CLIP_COLUMNS)."""
    return label_tail_pdf(label_head_pdf(pdf, n_parts))


def manifest_scan(
    spark: SparkSession,
    input_dir: str,
    per_pdf: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
    batch_rows: int = 256,
    columns: list[str] = CLIP_COLUMNS,
) -> DataFrame:
    """Distributed worker-side parquet scan of input_dir: the file list
    rides in the task closure, each of min(files, defaultParallelism) tasks
    reads its contiguous range of file indices with pyarrow in bounded
    batches of `columns`, and per_pdf maps every batch — heavy binary
    columns never enter the JVM. The tasks come from spark.range, so no
    shuffle runs in front of the scan.
    """
    files = list_manifest(input_dir)
    n_tasks = max(1, min(len(files), spark.sparkContext.defaultParallelism))

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for b in batches:
            for i in b["id"]:
                # memory_map: page-cache-resident files skip the read()
                # path entirely (measured 13x at 32-way concurrency)
                pf = pq.ParquetFile(files[i], memory_map=True)
                for rb in pf.iter_batches(batch_size=batch_rows, columns=columns):
                    out = per_pdf(rb.to_pandas())
                    # a batch with no pending rows (resume pruning) emits
                    # nothing: an empty frame's array columns infer float64,
                    # which Arrow cannot convert to array<string>
                    if len(out):
                        yield out

    return spark.range(0, len(files), 1, n_tasks).mapInPandas(_scan, schema=schema)


def _kernel_scan(
    spark: SparkSession,
    input_dir: str,
    kernel: Callable[[pd.DataFrame, int], pd.DataFrame],
    schema: T.StructType,
    n_parts: int,
    batch_rows: int,
    parts_filter: list[int] | None,
) -> DataFrame:
    """manifest_scan of the clip columns through a label kernel.

    parts_filter: optional part_id subset (checkpoint resume) — applied
    worker-side before the kernel, so resumed runs do not decode
    already-done partitions."""
    wanted = None if parts_filter is None else {int(p) for p in parts_filter}

    def per_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        if wanted is not None:
            pdf = pdf[[zlib.crc32(c.encode("utf-8")) % n_parts in wanted for c in pdf["clip_id"]]]
        return kernel(pdf, n_parts)

    return manifest_scan(spark, input_dir, per_pdf, schema, batch_rows)


def scan_labels(
    spark: SparkSession,
    input_dir: str,
    n_parts: int = 32,
    batch_rows: int = 256,
    parts_filter: list[int] | None = None,
) -> DataFrame:
    """Fully-fused pipeline: the parquet files of input_dir -> final labels
    in ONE mapInPandas stage (scan + label_batch_pdf). Produces labels
    identical to pipeline.label_clips over a JVM scan of the same directory
    (tests/test_scan_decode.py)."""
    return _kernel_scan(
        spark, input_dir, label_batch_pdf, LABELS_SCHEMA, n_parts, batch_rows, parts_filter
    )


def scan_rules_decode(
    spark: SparkSession,
    input_dir: str,
    n_parts: int = 32,
    batch_rows: int = 256,
    parts_filter: list[int] | None = None,
) -> DataFrame:
    """The parquet files of input_dir -> post-decode rows (scan +
    label_head_pdf); label_tail_pdf over its output gives scan_labels'
    labels."""
    return _kernel_scan(
        spark, input_dir, label_head_pdf, POST_DECODE_SCHEMA, n_parts, batch_rows, parts_filter
    )
