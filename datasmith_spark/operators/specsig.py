"""Speed/pitch-shift-robust audio near-duplicate detection (Spark side of
core/specsig.py — the q159 lane; see that module for the matching theory
and the robustness-matrix context).

Flow (the q38 candidate/verify split, with the verify fully JVM-side):

  1. signature: Arrow-batched narrow map, ONE row per clip carrying its
     tiny sorted tonal-peak array (clip_id, peaks, k) — at 10^12 clips
     this is the cheapest signature in the engine (a few ints per clip).
  2. candidates: melt in-scope signatures (2 <= k <= SS_MAXK) to
     scale-invariant intra-clip ratio keys, expand +-1 (bin-quantization
     ball, the q40 idea on a ratio grid), and reuse the SHARED hot-key-
     capped pair generator (operators/pairs.capped_key_pairs) — the exact
     CTE the oracle embeds, so candidate semantics cannot drift.
  3. verify: the integer rate-hypothesis test evaluated with NATIVE
     higher-order functions (transform/filter/exists/forall over the two
     <= 5-element arrays — no Python in the loop, whole-stage codegen
     keeps it in the JVM); the winning hypothesis is encoded as one
     integer ai*SS_HYP_RADIX+bj and minimized with array_min, so the
     Spark expression and the DuckDB list-lambda oracle pick the SAME
     deterministic witness. Output columns are all integers: the
     recovered rate is the exact bin ratio (rate_num, rate_den).

At 10^12 clips: the signature map is narrow, the candidate join shuffles
tiny integer keys through the shared cap, and the verify touches candidate
pairs only with O(k^4) integer ops per pair (k <= 5) — never all-pairs,
no UDF, no floats.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.audio import decode
from ..core.specsig import (
    SS_BMAX,
    SS_MAXK,
    SS_QR,
    SS_RMAX_D,
    SS_RMAX_N,
    SS_RMIN_D,
    SS_RMIN_N,
    SS_TOL,
    speed_variant16,
    tone_peaks16,
)
from .scan_decode import manifest_scan

SS_SIG_DDL = "clip_id string, peaks array<int>, k int"

SS_EVERY = 8  # q159's pinned subset: same cadence as the landmark lanes
SS_AUG_EVERY = 40  # plant a speed variant (sp_ id) for every 40th clip
SS_HYP_RADIX = 4096  # hypothesis code = ai * RADIX + bj (bins < RADIX)


def _sig_rows(pdf: pd.DataFrame, every: int, aug_every: int) -> pd.DataFrame:
    """One pandas batch of clips -> (clip_id, peaks, k) signature rows
    (+ planted speed variants under sp_ ids every aug_every-th clip).
    Composable default (every=1, aug_every=0) accepts ARBITRARY clip ids."""
    from .audio_fp import clip_index
    from .landmark import _head16

    ids: list[str] = []
    pk: list[list[int]] = []
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
        ids.append(cid)
        pk.append(tone_peaks16(x16))
        if aug_every and i % aug_every == 0:
            ids.append(f"sp_{i:012d}")
            pk.append(tone_peaks16(speed_variant16(x16, cid)))
    return pd.DataFrame({"clip_id": ids, "peaks": pk, "k": [len(p) for p in pk]}).astype(
        {"k": "int32"}
    )


def tone_signature_clips(clips: DataFrame, every: int = 1, aug_every: int = 0) -> DataFrame:
    """(clip_id, peaks, k) signature rows from a clips DataFrame."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _sig_rows(pdf, every, aug_every)

    return clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript").mapInPandas(
        _run, schema=SS_SIG_DDL
    )


def tone_signature_scan(
    spark: SparkSession, input_dir: str, every: int = 1, aug_every: int = 0
) -> DataFrame:
    """tone_signature_clips over a parquet directory via the fused manifest
    scan (audio bytes never enter the JVM)."""
    return manifest_scan(spark, input_dir, lambda pdf: _sig_rows(pdf, every, aug_every), SS_SIG_DDL)


def _hypothesis_expr(pa: str, pb: str) -> str:
    """Spark SQL expression for core/specsig.rate_hypothesis over two int
    array columns — the winning hypothesis as ai*SS_HYP_RADIX+bj, or null.
    Byte-identical rule to the python reference and the DuckDB oracle."""
    in_range = (
        f"{SS_RMIN_N} * h.bj <= {SS_RMIN_D} * (h.ai + {SS_TOL}) AND "
        f"{SS_RMAX_D} * (h.ai - {SS_TOL}) <= {SS_RMAX_N} * h.bj"
    )
    a_cov = f"exists({pb}, b -> abs(a * h.bj - h.ai * b) <= {SS_TOL} * h.bj)"
    b_cov = f"exists({pa}, a -> abs(a * h.bj - h.ai * b) <= {SS_TOL} * h.ai)"
    good = (
        f"size(filter({pa}, a -> {a_cov})) >= 2"
        f" AND forall({pa}, a -> a * h.bj > {SS_BMAX - SS_TOL} * h.ai OR {a_cov})"
        f" AND forall({pb}, b -> b * h.ai > {SS_BMAX - SS_TOL} * h.bj OR {b_cov})"
    )
    return (
        f"array_min(transform(filter("
        f"flatten(transform({pa}, ai -> transform({pb}, bj -> struct(ai, bj)))),"
        f" h -> {in_range} AND {good}), h -> h.ai * {SS_HYP_RADIX} + h.bj))"
    )


def speed_neardup_pairs(sigs: DataFrame, cap: int | None = None) -> DataFrame:
    """Speed/pitch-shift-robust near-duplicate pairs from (clip_id, peaks,
    k) signatures: (clip_a, clip_b, k_a, k_b, rate_num, rate_den) with
    a < b for every candidate pair that passes the integer rate-hypothesis
    verify; (rate_num, rate_den) is the recovered speed as an exact bin
    ratio (clip_a's bin over clip_b's matched bin — a_bins = r * b_bins).
    See the module docstring for the three stages and their scale shape."""
    from .pairs import capped_key_pairs

    scoped = sigs.filter((F.col("k") >= 2) & (F.col("k") <= SS_MAXK))
    # melt to +-1-expanded scale-invariant ratio keys (q40's ball on a
    # ratio grid); distinct per id so the capped join is set-semantic
    melt = scoped.selectExpr(
        "clip_id AS id",
        f"""explode(array_distinct(flatten(transform(
              flatten(transform(peaks, a -> transform(peaks, b -> struct(a, b)))),
              p -> CASE WHEN p.a = p.b THEN array()
                   ELSE array(div({SS_QR} * p.a, p.b) - 1,
                              div({SS_QR} * p.a, p.b),
                              div({SS_QR} * p.a, p.b) + 1) END)))) AS k""",
    )
    cand = capped_key_pairs(melt, "k", "id", cap=cap, materialize=False).distinct()
    sa = scoped.select(F.col("clip_id").alias("a"), F.col("peaks").alias("_pa"), F.col("k").alias("k_a"))
    sb = scoped.select(F.col("clip_id").alias("b"), F.col("peaks").alias("_pb"), F.col("k").alias("k_b"))
    verified = (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("_hyp", F.expr(_hypothesis_expr("_pa", "_pb")))
        .filter(F.col("_hyp").isNotNull())
    )
    return verified.select(
        F.col("a").alias("clip_a"),
        F.col("b").alias("clip_b"),
        "k_a",
        "k_b",
        (F.col("_hyp") / SS_HYP_RADIX).cast("int").alias("rate_num"),
        (F.col("_hyp") % SS_HYP_RADIX).cast("int").alias("rate_den"),
    )
