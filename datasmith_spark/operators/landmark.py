"""Shift-invariant audio near-duplicate detection (constellation landmarks).

Spark side of core/landmark.py — the lane that recovers DELAYED duplicates
(leading silence, trimmed intros, re-synced re-uploads), which defeat the
frame-aligned fingerprint lanes (operators/audio_fp.py q38/q40). Flow:

  1. landmarks: Arrow-batched narrow map, one (clip_id, lm_hash, t) row per
     distinct landmark hash occurrence — embarrassingly parallel, no
     shuffle; on the fused-scan path audio bytes never leave the worker.
  2. match: ONE self-join on the integer hash (hot hashes excluded — see
     landmark_match), then a GROUP BY (a, b, dt = t_b - t_a) vote count.
     Because the planted delays sweep every sub-hop PHASE, a duplicate's
     evidence may split between the two frame offsets bracketing its
     fractional true offset — so the pair score is the ADJACENT-POOLED
     vote votes[dt] + votes[dt+1] (one lead() window, same partitioning
     as the verdict window). A true duplicate concentrates pooled votes on
     its offset bracket while unrelated clips spread single-digit votes
     across many offsets (measured: weakest plant 35, strongest unrelated
     pair 16, corpus-wide).
  3. verdict: per pair keep the top-scored offset (row_number over score
     desc, dt asc), then apply TWO integer tests: score >= min_votes, and
     peak-to-sidelobe DOMINANCE den*score >= num*side where side is the
     best pooled score at any offset outside the winner's bracket. The
     dominance test is what separates a real shifted duplicate (votes
     concentrated at one offset — measured ratio >= 2.83 corpus-wide) from
     two clips that merely share stationary tonal content, whose identical
     (f1,f2,dt) hashes recur at EVERY frame and therefore match at many
     offsets almost evenly (measured ratio <= 1.71) — the classic
     matched-filter peak-to-sidelobe criterion, cross-multiplied in
     integers so no float column exists anywhere. Every output column is
     an integer, so the DuckDB oracle re-derives stages 2-3 in SQL from
     the committed key fixture with no float contract anywhere.

Hot-hash defense: hashes whose global occurrence count exceeds
LM_STOP_HASH are EXCLUDED from matching, the classic stop-hash rule for
landmark indexes. The budget is deliberately TIGHT (32, not the pair
lanes' 1024): a hash shared by dozens of clips is stationary-tone
wallpaper, not evidence — on the pinned corpus dropping it cuts the
match-join volume 28% while the weakest plant still pools 34 votes with
4.3x dominance and zero false pairs (measured sweep: cap 16 loses plants,
cap >= 24 is asymptotic). No star fallback here,
deliberately: offset voting needs per-OCCURRENCE times on both sides (a
star representative has no meaningful dt), and a pair glued together only
by globally-degenerate hashes (> cap clips sharing one (f1,f2,dt) pattern —
metronome-like content) cannot reach min_votes distinct agreeing landmarks
anyway; q38's exact lane keeps star pairs because its Jaccard verify uses
full key sets.

At 10^12 clips: the landmark map is narrow (fused manifest scan), the match
join shuffles small uniform integer keys with per-key work capped by the
stop-hash rule, voting is a map-side-combinable count, and the verdict
window partitions by pair — nothing all-pairs, nothing quadratic.

Ancestry: the reference dedups rows via an exact seen-set
(/root/reference/src/datasmith/scrape/code_coverage.py:83-88); this is the
time-shifted-duplicate analogue its text-only pipeline never needed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.audio import decode
from ..core.landmark import (
    LM_MAX_S,
    LM_SR,
    delayed_variant16,
    landmark_hashes16,
    noisy_variant16,
    plant_delay,
)
from ..core.resample import resample
from .scan_decode import manifest_scan

LM_KEYS_DDL = "clip_id string, lm_hash long, t int"

# q157's pinned subset of the n=4000 clips table: landmark every 8th clip
# (500 rows) and plant a delayed near-duplicate for every 40th (100 del_
# rows). Shared by the Spark query, the fixture script, and the tests so
# the committed oracle fixture describes exactly this input.
LM_EVERY = 8
LM_AUG_EVERY = 40
LM_MIN_VOTES = 24  # weakest plant pools 34; sub-threshold accidents pool <= 16
LM_DOM_NUM, LM_DOM_DEN = 11, 5  # dominance 2.2x: plants >= 4.3, tonal FPs <= 1.71
LM_STOP_HASH = 32  # stop-hash budget (see module docstring)


def _head16(pcm, sr: int):
    """Source-rate PCM -> the exact LM_MAX_S*LM_SR-sample analysis head
    (truncate source-domain first — fp_keys' rule — then shared resample)."""
    import numpy as np

    x = np.asarray(pcm, dtype=np.float64)[: int(round(LM_MAX_S * sr))]
    if sr != LM_SR:
        x = resample(x, sr, LM_SR)
    return x[: int(LM_MAX_S * LM_SR)]


def _lm_rows(pdf: pd.DataFrame, every: int, aug_every: int) -> pd.DataFrame:
    """One pandas batch of clips -> (clip_id, lm_hash, t) landmark rows
    (+ planted delayed variants under del_ ids every aug_every-th clip).

    Composable default (every=1, aug_every=0) accepts ARBITRARY clip ids —
    the datagen index is parsed only when subsetting/planting is on (the
    q38 family's post-ADVICE contract, tests/test_landmark.py)."""
    from .audio_fp import clip_index

    ids: list[str] = []
    hs: list[int] = []
    ts: list[int] = []

    def _emit(cid: str, pairs) -> None:
        for h, t in pairs:
            ids.append(cid)
            hs.append(h)
            ts.append(t)

    sampled = every > 1 or bool(aug_every)
    for cid, buf, sr, codec in zip(pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        i = clip_index(cid) if sampled else 0
        if every > 1 and i % every:
            continue
        sr = None if pd.isna(sr) else int(sr)
        if not sr or sr <= 0:
            continue
        pcm = decode(buf, codec)
        if pcm is None or pcm.size == 0:
            continue
        x16 = _head16(pcm, sr)
        _emit(cid, landmark_hashes16(x16))
        if aug_every and i % aug_every == 0:
            _emit(f"del_{i:012d}", landmark_hashes16(delayed_variant16(x16, plant_delay(cid))))
    return pd.DataFrame(
        {
            "clip_id": ids,
            "lm_hash": pd.array(hs, dtype="int64"),
            "t": pd.array(ts, dtype="int32"),
        }
    )


def landmark_clips(clips: DataFrame, every: int = 1, aug_every: int = 0) -> DataFrame:
    """(clip_id, lm_hash, t) rows from a clips DataFrame (composable path;
    the binary column crosses the JVM<->Python socket once on the way in)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _lm_rows(pdf, every, aug_every)

    return clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript").mapInPandas(
        _run, schema=LM_KEYS_DDL
    )


def landmark_scan(
    spark: SparkSession, input_dir: str, every: int = 1, aug_every: int = 0
) -> DataFrame:
    """landmark_clips over a parquet directory via the fused manifest scan
    (audio bytes never enter the JVM — q157's path). Kernel-bound like the
    fingerprint scans (resample+FFT dominates reads)."""
    return manifest_scan(spark, input_dir, lambda pdf: _lm_rows(pdf, every, aug_every), LM_KEYS_DDL)


def _lm_noise_rows(pdf: pd.DataFrame, every: int, aug_every: int) -> pd.DataFrame:
    """One pandas batch of clips -> (clip_id, lm_hash, t) landmark rows with
    NOISY planted variants under nz_ ids (core/landmark.noisy_variant16:
    additive 30 dB-SNR white noise + gain + requant) — q161's planting lane.
    Same arbitrary-id contract as _lm_rows: the datagen index is parsed only
    when subsetting/planting is on."""
    from .audio_fp import clip_index

    ids: list[str] = []
    hs: list[int] = []
    ts: list[int] = []

    def _emit(cid: str, pairs) -> None:
        for h, t in pairs:
            ids.append(cid)
            hs.append(h)
            ts.append(t)

    sampled = every > 1 or bool(aug_every)
    for cid, buf, sr, codec in zip(pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        i = clip_index(cid) if sampled else 0
        if every > 1 and i % every:
            continue
        sr = None if pd.isna(sr) else int(sr)
        if not sr or sr <= 0:
            continue
        pcm = decode(buf, codec)
        if pcm is None or pcm.size == 0:
            continue
        x16 = _head16(pcm, sr)
        _emit(cid, landmark_hashes16(x16))
        if aug_every and i % aug_every == 0:
            y = noisy_variant16(x16, cid)
            if y is not None:
                nid = f"nz_{i:012d}" if sampled else f"nz_{cid}"
                _emit(nid, landmark_hashes16(y))
    return pd.DataFrame(
        {
            "clip_id": ids,
            "lm_hash": pd.array(hs, dtype="int64"),
            "t": pd.array(ts, dtype="int32"),
        }
    )


def landmark_noise_clips(clips: DataFrame, every: int = 1, aug_every: int = 0) -> DataFrame:
    """(clip_id, lm_hash, t) rows with noisy nz_ plants from a clips
    DataFrame (composable path)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _lm_noise_rows(pdf, every, aug_every)

    return clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript").mapInPandas(
        _run, schema=LM_KEYS_DDL
    )


def landmark_noise_scan(
    spark: SparkSession, input_dir: str, every: int = 1, aug_every: int = 0
) -> DataFrame:
    """landmark_noise_clips over a parquet directory via the fused manifest
    scan (q161's path) — kernel-bound."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _lm_noise_rows(pdf, every, aug_every),
        LM_KEYS_DDL,
    )


def landmark_match(
    keys: DataFrame,
    min_votes: int = LM_MIN_VOTES,
    cap: int | None = None,  # None -> LM_STOP_HASH
    dom_num: int = LM_DOM_NUM,
    dom_den: int = LM_DOM_DEN,
) -> DataFrame:
    """Shift-invariant duplicate pairs from (clip_id, lm_hash, t) rows:
    (clip_a, clip_b, votes, side_votes, est_dt) with a < b, votes = the
    ADJACENT-POOLED winning score, side_votes = the best pooled score
    outside the winner's bracket, est_dt the winning offset bracket lower
    edge (the true fractional offset lies within half a frame of
    [est_dt, est_dt + 1]). Emitted iff votes >= min_votes AND
    dom_den * votes >= dom_num * side_votes (peak-to-sidelobe dominance —
    see module docstring). Stop-hash defense per the module docstring."""
    if cap is None:
        cap = LM_STOP_HASH
    cold_hashes = (
        keys.groupBy("lm_hash").agg(F.count("*").alias("_hc")).filter(F.col("_hc") <= cap)
    )
    # shuffle_hash hints on every hash-keyed join, q40's lesson verbatim:
    # AQE's post-shuffle broadcast estimate OOMs a default-memory (1g)
    # driver session on the ~1M-row key table, and sort-merge pays two
    # full sorts per join; shuffle-hash bounds the per-partition build side
    # and the driver gate runs queries in exactly such a vanilla session.
    # The EXPLICIT hash repartition pins the self-join's partition count at
    # the session's shuffle setting: AQE would otherwise coalesce the
    # small-looking key shuffle to a handful of partitions and then build
    # hash relations too big for a 1g heap's execution pool (observed:
    # "Can't acquire 16777216 bytes" with 8 concurrent builds) — the same
    # rows split 200 ways build in ~100KB units. At 10^12 scale this is
    # the partitioning you want anyway: uniform integer keys, bounded
    # per-task state, no driver-side anything.
    n_shuffle = int(keys.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    cold = (
        keys.repartition(n_shuffle, "lm_hash")
        .hint("shuffle_hash")
        .join(cold_hashes.select("lm_hash"), "lm_hash")
    )
    x = cold.select("lm_hash", F.col("clip_id").alias("a"), F.col("t").alias("_ta"))
    y = cold.select("lm_hash", F.col("clip_id").alias("b"), F.col("t").alias("_tb"))
    votes = (
        x.hint("shuffle_hash").join(y, "lm_hash")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", (F.col("_tb") - F.col("_ta")).cast("int").alias("est_dt"))
        .agg(F.count("*").alias("_v"))
    )
    # adjacent-offset pooling + verdict share ONE (a, b) shuffle: lead()
    # over dt-order pools the bracketing offsets, row_number picks the top
    wd = Window.partitionBy("a", "b").orderBy(F.col("est_dt").asc())
    pooled = votes.withColumn(
        "votes",
        F.col("_v")
        + F.when(
            F.lead("est_dt").over(wd) == F.col("est_dt") + 1, F.lead("_v").over(wd)
        ).otherwise(F.lit(0)),
    )
    w = Window.partitionBy("a", "b").orderBy(F.col("votes").desc(), F.col("est_dt").asc())
    best = (
        pooled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("a", "b", F.col("est_dt").alias("_bdt"), F.col("votes").alias("_bv"))
    )
    # sidelobe: best pooled score at offsets NOT overlapping the winner's
    # bracket — the pooled table is tiny (pairs x matched offsets), so this
    # re-join costs one small shuffle, and the SQL oracle mirrors it 1:1
    side = (
        pooled.join(best, ["a", "b"])
        .filter(F.abs(F.col("est_dt") - F.col("_bdt")) > 1)
        .groupBy("a", "b")
        .agg(F.max("votes").alias("_sv"))
    )
    return (
        best.join(side, ["a", "b"], "left")
        .withColumn("_sv", F.coalesce(F.col("_sv"), F.lit(0)))
        .filter(
            (F.col("_bv") >= min_votes)
            & (dom_den * F.col("_bv") >= dom_num * F.col("_sv"))
        )
        .select(
            F.col("a").alias("clip_a"),
            F.col("b").alias("clip_b"),
            F.col("_bv").cast("bigint").alias("votes"),
            F.col("_sv").cast("bigint").alias("side_votes"),
            F.col("_bdt").alias("est_dt"),
        )
    )


def _lm_probe_rows(pdf: pd.DataFrame, every: int) -> pd.DataFrame:
    """One pandas batch of clips -> (clip_id, lm_hash, t) PROBE rows: for
    every `every`-th clip, landmark its planted mid-clip query snippet
    (core/landmark.snippet_variant16) under a snip_ id. The probe scan
    decodes only the planted rows — a cheap side pass next to the index
    scan."""
    from ..core.landmark import snippet_variant16
    from .audio_fp import clip_index

    ids: list[str] = []
    hs: list[int] = []
    ts: list[int] = []
    # the datagen index is a harness concern (subset + snip_NNN naming);
    # the composable default (every=1) must accept ARBITRARY clip ids
    # (the q38-family post-ADVICE contract), naming probes snip_<id>
    for cid, buf, sr, codec in zip(pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]):
        if every > 1 and clip_index(cid) % every:
            continue
        sr = None if pd.isna(sr) else int(sr)
        if not sr or sr <= 0:
            continue
        pcm = decode(buf, codec)
        if pcm is None or pcm.size == 0:
            continue
        x16 = _head16(pcm, sr)
        if x16.size == 0:
            continue
        _, snip = snippet_variant16(x16, cid)
        pid = f"snip_{clip_index(cid):012d}" if every > 1 else f"snip_{cid}"
        for h, t in landmark_hashes16(snip):
            ids.append(pid)
            hs.append(h)
            ts.append(t)
    return pd.DataFrame(
        {
            "clip_id": ids,
            "lm_hash": pd.array(hs, dtype="int64"),
            "t": pd.array(ts, dtype="int32"),
        }
    )


def landmark_probe_scan(spark: SparkSession, input_dir: str, every: int) -> DataFrame:
    """Planted-snippet probe keys over a parquet directory (fused manifest
    scan — q158's probe side)."""
    return manifest_scan(spark, input_dir, lambda pdf: _lm_probe_rows(pdf, every), LM_KEYS_DDL)


def landmark_lookup(
    index_keys: DataFrame,
    probe_keys: DataFrame,
    min_votes: int = LM_MIN_VOTES,
    cap: int | None = None,  # None -> LM_STOP_HASH (index-side budget)
    dom_num: int = LM_DOM_NUM,
    dom_den: int = LM_DOM_DEN,
) -> DataFrame:
    """Query-by-snippet retrieval: for each probe (a short recording), the
    single best (match_id, position) in the landmark INDEX, Shazam's search
    shape. Returns (probe_id, match_id, votes, side_votes, est_pos,
    confident) — ALWAYS the argmax row per probe (retrieval never silently
    drops a query); `confident` applies q157's two integer tests (pooled
    votes >= min_votes AND dom_den*votes >= dom_num*side) where side is now
    the best pooled score among ALL OTHER candidates — a different match,
    or the same match at a non-bracket position (the classic best-vs-rest
    ratio test).

    Same scale shape as landmark_match: stop-hash budget on the index side,
    shuffle-hash equi-join on uniform integer keys (probe side is tiny),
    map-side-combinable votes, per-probe windows. At 10^12 indexed clips
    the index keys live bucketed on lm_hash and a probe batch joins against
    them with zero index movement."""
    if cap is None:
        cap = LM_STOP_HASH
    cold_hashes = (
        index_keys.groupBy("lm_hash").agg(F.count("*").alias("_hc")).filter(F.col("_hc") <= cap)
    )
    n_shuffle = int(
        index_keys.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    idx = (
        index_keys.repartition(n_shuffle, "lm_hash")
        .hint("shuffle_hash")
        .join(cold_hashes.select("lm_hash"), "lm_hash")
        .select("lm_hash", F.col("clip_id").alias("match_id"), F.col("t").alias("_ti"))
    )
    pr = probe_keys.select(
        "lm_hash", F.col("clip_id").alias("probe_id"), F.col("t").alias("_tp")
    )
    votes = (
        pr.hint("shuffle_hash")
        .join(idx, "lm_hash")
        .groupBy(
            "probe_id", "match_id", (F.col("_ti") - F.col("_tp")).cast("int").alias("est_pos")
        )
        .agg(F.count("*").alias("_v"))
    )
    wd = Window.partitionBy("probe_id", "match_id").orderBy(F.col("est_pos").asc())
    pooled = votes.withColumn(
        "votes",
        F.col("_v")
        + F.when(
            F.lead("est_pos").over(wd) == F.col("est_pos") + 1, F.lead("_v").over(wd)
        ).otherwise(F.lit(0)),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("votes").desc(), F.col("match_id").asc(), F.col("est_pos").asc()
    )
    best = (
        pooled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "probe_id",
            F.col("match_id").alias("_bm"),
            F.col("est_pos").alias("_bp"),
            F.col("votes").alias("_bv"),
        )
    )
    side = (
        pooled.join(best, ["probe_id"])
        .filter(
            (F.col("match_id") != F.col("_bm"))
            | (F.abs(F.col("est_pos") - F.col("_bp")) > 1)
        )
        .groupBy("probe_id")
        .agg(F.max("votes").alias("_sv"))
    )
    return (
        best.join(side, ["probe_id"], "left")
        .withColumn("_sv", F.coalesce(F.col("_sv"), F.lit(0)))
        .select(
            "probe_id",
            F.col("_bm").alias("match_id"),
            F.col("_bv").cast("bigint").alias("votes"),
            F.col("_sv").cast("bigint").alias("side_votes"),
            F.col("_bp").alias("est_pos"),
            (
                (F.col("_bv") >= min_votes)
                & (dom_den * F.col("_bv") >= dom_num * F.col("_sv"))
            ).alias("confident"),
        )
    )


LM_LOOKUP_DDL = (
    "probe_id string, match_id string, votes long, side_votes long, "
    "est_pos int, confident boolean"
)


def init_landmark_store(tl, name: str, keys: DataFrame, n_buckets: int = 32) -> None:
    """Create the landmark posting store as a catalog table hash-bucketed on
    lm_hash — the probe join's store side never shuffles; only the
    (bounded) incoming batch moves (operators/incremental.py's design,
    lifted from set-membership keys to (hash, t) postings)."""
    tl.write_bucketed(keys, name, "lm_hash", n_buckets=n_buckets)


def ingest_landmark_batch(
    spark: SparkSession,
    tl,
    store: str,
    batch_keys: DataFrame,
    min_votes: int = LM_MIN_VOTES,
    cap: int | None = None,
    n_buckets: int = 32,
) -> tuple[DataFrame, int, int]:
    """One continuous-ingest step of SHIFT-INVARIANT dedup: probe the batch
    clips' landmarks against the persisted posting store (landmark_lookup —
    per-clip argmax + confidence), append only novel clips' postings.

    Returns (matches, n_novel, n_dup): `matches` holds every probe's best
    row with its confidence verdict; a clip is a duplicate iff `confident`
    (a weak accidental best-match must NOT suppress ingestion). Matches are
    eagerly localCheckpoint-ed BEFORE the append for the same reason as
    incremental.ingest_batch: the append refreshes the store relation and a
    merely-persisted result would recompute against the grown store. Crash
    between probe and append re-ingests the batch; duplicate postings only
    widen future matching (vote counts grow, never flip a true verdict to
    false)."""
    if not tl.exists(spark, store):
        init_landmark_store(tl, store, batch_keys, n_buckets=n_buckets)
        n = batch_keys.select("clip_id").distinct().count()
        return spark.createDataFrame([], LM_LOOKUP_DDL), n, 0
    store_df = tl.read(spark, store)
    matches = landmark_lookup(
        store_df, batch_keys, min_votes=min_votes, cap=cap
    ).localCheckpoint(eager=True)
    dup_ids = (
        matches.filter(F.col("confident"))
        .select(F.col("probe_id").alias("clip_id"))
        .distinct()
    )
    novel = batch_keys.join(dup_ids, "clip_id", "left_anti")
    n_dup = dup_ids.count()
    n_novel = novel.select("clip_id").distinct().count()
    (
        novel.write.format(tl.fmt)
        .mode("append")
        .bucketBy(n_buckets, "lm_hash")
        .sortBy("lm_hash")
        .saveAsTable(tl.ident(store))
    )
    spark.catalog.refreshTable(tl.ident(store))
    return matches, n_novel, n_dup
