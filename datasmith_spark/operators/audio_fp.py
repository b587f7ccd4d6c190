"""Audio-fingerprint near-duplicate detection (Spark operators).

Flow (all shapes already proven by the text dedup families):

  1. fingerprint: Arrow-batched narrow map, one (clip_id, fp_key) row per
     distinct k-gram key — embarrassingly parallel, no shuffle. The queries
     run it over the fused manifest scan (fingerprint_scan, audio bytes
     never leave the worker); the streaming dedup runner feeds its
     micro-batch DataFrames through fingerprint_clips.
  2. candidates: ONE self-join on the key through the shared hot-key cap
     (operators/pairs.py) — a viral clip re-uploaded thousands of times
     lands its keys in O(m) star pairs, never O(m^2).
  3. verify: integer-exact Jaccard over the full key sets, computed only
     for candidate pairs (verify-after-filter, same shape as
     dedup.jaccard_verify). The threshold test is cross-multiplied in
     integers (den * |A∩B| >= num * |A∪B|) so the emitted columns are all
     engine-exact (no float rounding in the value check).

At 10^12 clips: stage 1 is a narrow map; stage 2 shuffles short uniform hex
keys (capped); stage 3 touches candidates only. The brute-force alternative
(all-pairs BER on aligned fingerprints) never appears.

The planted-duplicate derivation (core/audio_fp.aug_variant) lives in the
same scan: for every aug_every-th clip the batch also emits keys for a
gain-scaled, re-quantized copy under an `aug_` id — deterministic ground
truth for recall tests and the DuckDB oracle, derived from the SAME decode
pass (no second scan of the binary column).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.audio import decode
from ..core.audio_fp import (
    FP_IKGRAM,
    FP_KGRAM,
    FP_MAX_S,
    aug_mulaw_variant,
    aug_variant,
    fp_int_keys,
    fp_keys,
)
from .scan_decode import manifest_scan

FP_KEYS_DDL = "clip_id string, fp_key string"
FP_IKEYS_DDL = "clip_id string, fp_ikey long"

# q38's pinned subset of the n=4000 clips table: fingerprint every 4th clip
# (1000 rows) and plant an augmented near-duplicate for every 40th (100
# aug_ rows). Shared by the Spark query, the fixture script, and the tests
# so the committed oracle fixture describes exactly this input. q40 (the
# robust lane) pins the SAME subset with mu-law-companded plants (mul_ ids).
FP_EVERY = 4
FP_AUG_EVERY = 40


def clip_index(clip_id: str) -> int:
    """Row index from a `clip_<i>` / `aug_<i>` / `mul_<i>` id (datagen naming)."""
    return int(clip_id.rsplit("_", 1)[1])


def _fp_rows_generic(
    pdf: pd.DataFrame,
    every: int,
    aug_every: int,
    key_fn,
    aug_fn,
    col: str,
    dtype: str,
    aug_prefix: str,
    max_s: float,
) -> pd.DataFrame:
    """One pandas batch of clips -> (clip_id, <col>) key rows (+ planted
    `aug_fn` variants under `aug_prefix` ids every aug_every-th clip)."""
    ids: list[str] = []
    keys: list = []
    # The datagen index is a test-harness concern (subsetting / planting
    # augmented duplicates); the composable default (every=1, aug_every=0)
    # must accept arbitrary clip ids, so only parse when sampling is on.
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
        ks = key_fn(pcm, sr)
        ids.extend([cid] * len(ks))
        keys.extend(ks)
        if aug_every and i % aug_every == 0:
            ks2 = key_fn(aug_fn(pcm[: int(round(max_s * sr))]), sr)
            aid = f"{aug_prefix}{i:012d}"
            ids.extend([aid] * len(ks2))
            keys.extend(ks2)
    return pd.DataFrame({"clip_id": ids, col: pd.array(keys, dtype=dtype)})


def _fp_rows(
    pdf: pd.DataFrame, every: int, aug_every: int, kgram: int, max_s: float
) -> pd.DataFrame:
    """One pandas batch of clips -> (clip_id, fp_key) rows (+ planted augs)."""
    return _fp_rows_generic(
        pdf, every, aug_every,
        lambda pcm, sr: fp_keys(pcm, sr, kgram, max_s),
        aug_variant, "fp_key", "object", "aug_", max_s,
    )


def _fp_irows(
    pdf: pd.DataFrame, every: int, aug_every: int, kgram: int, max_s: float
) -> pd.DataFrame:
    """Robust lane: (clip_id, fp_ikey) integer 2-gram rows, planting mu-law
    companded variants (mul_ ids) instead of gain+requant ones."""
    return _fp_rows_generic(
        pdf, every, aug_every,
        lambda pcm, sr: fp_int_keys(pcm, sr, kgram, max_s),
        aug_mulaw_variant, "fp_ikey", "int64", "mul_", max_s,
    )


def fingerprint_clips(
    clips: DataFrame,
    every: int = 1,
    aug_every: int = 0,
    kgram: int = FP_KGRAM,
    max_s: float = FP_MAX_S,
) -> DataFrame:
    """(clip_id, fp_key) rows from a clips DataFrame — the streaming dedup
    runner's source (its micro-batches are DataFrames, not directories);
    the binary column crosses the JVM<->Python socket once on the way in."""
    from collections.abc import Iterator

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _fp_rows(pdf, every, aug_every, kgram, max_s)

    return clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript").mapInPandas(
        _run, schema=FP_KEYS_DDL
    )


def fingerprint_scan(
    spark: SparkSession,
    input_dir: str,
    every: int = 1,
    aug_every: int = 0,
    kgram: int = FP_KGRAM,
    max_s: float = FP_MAX_S,
) -> DataFrame:
    """(clip_id, fp_key) rows over a parquet directory via the fused
    manifest scan (audio bytes never enter the JVM — q38's path). The stage is
    dominated by the resample+FFT kernel (~0.1 s/clip) rather than file
    reads.
    """
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _fp_rows(pdf, every, aug_every, kgram, max_s),
        FP_KEYS_DDL,
    )


def fingerprint_ints_scan(
    spark: SparkSession,
    input_dir: str,
    every: int = 1,
    aug_every: int = 0,
    kgram: int = FP_IKGRAM,
    max_s: float = FP_MAX_S,
) -> DataFrame:
    """Robust-lane fingerprint scan: (clip_id, fp_ikey) integer 2-gram keys
    over a parquet directory (fused manifest scan, the same shape as
    fingerprint_scan; q40's path)."""
    return manifest_scan(
        spark,
        input_dir,
        lambda pdf: _fp_irows(pdf, every, aug_every, kgram, max_s),
        FP_IKEYS_DDL,
    )


def hamming_ball_keys(ikeys: DataFrame, bits: int = 16 * FP_IKGRAM) -> DataFrame:
    """(id, k) -> distinct (id, k') for every k' within Hamming distance 1.

    The ISMIR-2002 lookup-table expansion as a relational explode: each key
    XORed against {0, 1<<0, ..., 1<<(bits-1)} — (bits+1)x rows, all
    JVM-side (array literal + explode + bitwiseXOR, no Python). Distinct
    per id so downstream hit counts are set-semantics."""
    masks = F.array(*[F.lit(0).cast("long")] + [F.lit(1 << b).cast("long") for b in range(bits)])
    return (
        ikeys.select("id", F.explode(masks).alias("_m"), "k")
        .select("id", F.col("k").bitwiseXOR(F.col("_m")).alias("k"))
        .distinct()
    )


def audio_neardup_pairs_hamming(
    ikeys: DataFrame, num: int = 4, den: int = 100, cap: int | None = None
) -> DataFrame:
    """Coarse-re-encode-robust near-duplicate pairs from (clip_id, fp_ikey)
    integer 2-gram rows — the Hamming-ball lane that catches mu-law/A-law
    companding (q38's exact-key lane documents these as out of reach).

    ONE asymmetric match join does both candidate generation and scoring:
    Ball(src) equi-joined to Exact(dst) on the key yields, grouped by the
    ordered pair, hits(src->dst) = |Ball(src) n E(dst)| — the number of
    dst's exact keys within Hamming distance 1 of some key of src. (Naive
    candidates-then-rejoin-the-ball re-explodes every candidate by its
    ~8600-row ball — measured 1.7e9 intermediate rows on the 1073-clip
    fixture; this shape never materializes more than the actual key
    matches.) Verify, in exact integers, symmetrized over both directions:
    den*(hits_ab + hits_ba) >= num*(sz_a + sz_b). Measured on the pinned
    1073-clip corpus with 97 planted mu-law round-trips: plant scores span
    0.071-0.828 while the strongest unrelated pair scores 0.011 (one or two
    accidental key matches), so num/den=4/100 recovers every plant with a
    >=1.7x margin on both sides — and a false positive would need ~18
    DISTINCT accidental radius-1 key matches, vanishing at any scale.

    Hot-key defense: keys whose exact OR ball frequency exceeds the shared
    cap are EXCLUDED from matching (per-key join work is bounded by cap^2).
    No star fallback here, deliberately: verify scores only key matches, so
    a pair glued together solely by globally-hot keys (>cap clips sharing
    one 32-bit acoustic pattern — degenerate, silence-like content) can
    never reach the threshold anyway; q38's exact lane keeps star pairs
    because its Jaccard verify is computed from the full key sets.

    At 10^12 clips: the ball explode is a narrow 33x map of SMALL integer
    rows (never audio), the match join shuffles uniform int keys with
    per-key work capped, scoring is a groupBy on the match output. Nothing
    all-pairs, nothing quadratic in candidates.
    """
    from .pairs import pair_key_cap

    cap = pair_key_cap(cap)
    kk = ikeys.select(F.col("clip_id").alias("id"), F.col("fp_ikey").alias("k"))
    # ball feeds both the frequency stats and the match join; deliberately
    # NOT cached/checkpointed — it is 33x the (small) key table and storing
    # it OOMs a default-memory driver session, while recomputing is one
    # cheap explode from the caller-persisted key table
    ball = hamming_ball_keys(kk)
    ec = kk.groupBy("k").agg(F.count("*").alias("_ec"))
    bc = ball.groupBy("k").agg(F.count("*").alias("_bc"))
    # shuffle_hash hints on the ball-sized joins: letting AQE build a
    # broadcast map from a post-shuffle estimate OOMs a default-memory
    # driver (observed at 1g), and sort-merge pays two 9M-row sorts per
    # join; shuffle-hash avoids both — the per-partition build side is the
    # SMALLER relation's partition (<=~10k rows at 32 partitions), bounded
    # heap, no sorts (measured 1.4x on the hits stage vs merge, identical
    # output). The genuinely tiny sides (cold key set, sizes) still
    # broadcast fine below.
    cold = (
        ec.hint("shuffle_hash").join(bc, "k")
        .filter((F.col("_ec") <= cap) & (F.col("_bc") <= cap))
        .select("k")
    )
    src = ball.hint("shuffle_hash").join(cold, "k").select(F.col("id").alias("src"), "k")
    dst = kk.hint("shuffle_hash").join(cold, "k").select(F.col("id").alias("dst"), "k")
    hits = (
        src.hint("shuffle_hash").join(dst, "k")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("h"))
    )
    # canonicalize: radius-1 matching is symmetric, but the cold-key filter
    # is per-direction (a->b matches on b's keys), so a pair can appear in
    # one direction only — full outer + zero-fill keeps it
    ab = hits.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("h").alias("hits_ab")
    )
    ba = hits.filter(F.col("src") > F.col("dst")).select(
        F.col("dst").alias("a"), F.col("src").alias("b"), F.col("h").alias("hits_ba")
    )
    sizes = kk.groupBy("id").agg(F.count("*").alias("sz"))
    return (
        ab.join(ba, ["a", "b"], "full")
        .fillna(0, ["hits_ab", "hits_ba"])
        .join(sizes.withColumnsRenamed({"id": "a", "sz": "sz_a"}), "a")
        .join(sizes.withColumnsRenamed({"id": "b", "sz": "sz_b"}), "b")
        .filter(
            F.lit(den) * (F.col("hits_ab") + F.col("hits_ba"))
            >= F.lit(num) * (F.col("sz_a") + F.col("sz_b"))
        )
        .select(
            F.col("a").alias("clip_a"),
            F.col("b").alias("clip_b"),
            "hits_ab",
            "hits_ba",
            "sz_a",
            "sz_b",
        )
    )


def audio_neardup_pairs(
    keys: DataFrame, num: int = 35, den: int = 100, cap: int | None = None
) -> DataFrame:
    """Near-duplicate clip pairs from (clip_id, fp_key) rows.

    Candidates: ids sharing ANY key, via the capped self-join. Verified:
    key-set Jaccard >= num/den, tested as den*inter >= num*union in exact
    integers. Output (clip_a, clip_b, n_shared, sz_a, sz_b) is all
    strings/longs — hash-exact against the DuckDB oracle.
    """
    from .pairs import capped_key_pairs

    kk = keys.select(F.col("clip_id").alias("id"), F.col("fp_key").alias("k"))
    cand = capped_key_pairs(kk, "k", "id", cap, materialize=False).distinct()
    sizes = kk.groupBy("id").agg(F.count("*").alias("sz"))
    a = kk.select(F.col("id").alias("a"), "k")
    b = kk.select(F.col("id").alias("b"), "k")
    inter = (
        cand.join(a, "a")
        .join(b, ["b", "k"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "a", "sz": "sz_a"}), "a")
        .join(sizes.withColumnsRenamed({"id": "b", "sz": "sz_b"}), "b")
        .filter(
            F.lit(den) * F.col("n_shared")
            >= F.lit(num) * (F.col("sz_a") + F.col("sz_b") - F.col("n_shared"))
        )
        .select(
            F.col("a").alias("clip_a"),
            F.col("b").alias("clip_b"),
            "n_shared",
            "sz_a",
            "sz_b",
        )
    )


def decontaminate_by_eval_keys(
    keys: DataFrame,
    eval_ids: DataFrame,
    num: int,
    den: int,
    eval_df_cap: int = 10,
) -> DataFrame:
    """Eval-suite decontamination over fingerprint keys: flag every corpus
    clip whose key set CONTAINS a large fraction of some eval clip's keys.

    `keys` is (clip_id, fp_key) set-semantic rows (fingerprint_clips /
    fingerprint_scan output over the full corpus — eval clips included);
    `eval_ids` is the bounded eval-suite id list (clip_id). A corpus clip t
    is contaminated by eval clip e when, in exact integers,

        den * |K_t n K_e| >= num * |K_e|     (t != e)

    — asymmetric CONTAINMENT against the eval clip, not Jaccard: a long
    training clip that swallows a whole eval clip must flag even though
    its own key set is much larger. Keys shared by more than `eval_df_cap`
    eval clips are dropped from BOTH the intersection and the denominator
    first (non-discriminative, silence-like patterns); the filter is
    computed on the bounded eval key set only, so it costs no corpus pass.

    Output: one row per contaminated corpus clip —
    (clip_id, n_eval_hits, max_shared), all exact integers.

    Scale shape (the audio twin of the q43 text-contamination probe): the
    eval suite is bounded, so its keys BROADCAST; candidate generation is
    a map-side hash join against the corpus key stream — the corpus is
    never shuffled on raw keys. The only shuffles are partial-aggregated
    (tid, eid) hit counts (bounded by |eval| per corpus clip) and the
    final per-clip rollup. No self-join, no cap machinery needed: per-key
    join fanout is bounded by the eval suite's occurrences of that key.
    """
    ev = keys.join(F.broadcast(eval_ids.select("clip_id")), "clip_id").select(
        F.col("clip_id").alias("eid"), "fp_key"
    )
    # discriminative eval keys only (eval-side document frequency cap)
    evdf = ev.groupBy("fp_key").agg(F.countDistinct("eid").alias("_ec"))
    ev = ev.join(evdf.filter(F.col("_ec") <= eval_df_cap).select("fp_key"), "fp_key")
    esz = ev.groupBy("eid").agg(F.count("*").alias("sz"))
    inter = (
        keys.withColumnRenamed("clip_id", "tid")
        .join(F.broadcast(ev), "fp_key")
        .filter(F.col("tid") != F.col("eid"))
        .groupBy("tid", "eid")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(F.broadcast(esz), "eid")
        .filter(F.lit(den) * F.col("n_shared") >= F.lit(num) * F.col("sz"))
        .groupBy("tid")
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.max("n_shared").cast("long").alias("max_shared"),
        )
        .select(F.col("tid").alias("clip_id"), "n_eval_hits", "max_shared")
    )
