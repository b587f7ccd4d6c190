"""Bloom-filter membership prefilter for dedup against a huge seen-key store.

The incremental-ingestion problem at 10^12 keys: "drop every incoming row
whose key was already processed" is a left-anti join whose big side is the
STORE, so the naive plan shuffles the store for every ingest batch. The
standard engine answer (Spark's own runtime bloom-filter join pruning,
Iceberg/Parquet bloom metadata) is a compact bit-array membership filter:

  * build: every store key sets k = BLOOM_K bit positions in an m-bit
    array. Relationally: key -> k (word, mask) rows -> groupBy(word)
    bit_or(mask) — ONE map-side-combined aggregation collapsing to at most
    m/64 rows regardless of store size (the filter is mergeable: partial
    bit_or from any partitioning OR together). The result is a tiny
    DataFrame artifact (m = 2^20 bits -> <= 16,384 rows, ~128 KiB) that
    persists like any table and updates incrementally by unioning new
    keys' words and re-bit_or-ing.
  * probe: k broadcast hash joins of the batch's (word) columns against
    the filter words — entirely map-side, JVM-native (xxhash64 + shift +
    bitwiseAND inside whole-stage codegen; no corpus shuffle, no Python).
    A row is a definite miss (key provably NOT in store — blooms have no
    false negatives) unless all k probed bits are set.
  * confirm: only the maybe-members (false-positive rate ~(1-e^{-kn/m})^k,
    sized by m) reach the exact anti-join, so the expensive join runs on a
    sliver of the batch.

The composition is EXACTLY equal to the plain left-anti join (the oracle
for q82 is the plain NOT EXISTS), which is what makes a probabilistic
structure value-checkable: the bloom only prunes, it never decides.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_M_BITS = 1 << 20  # filter size in bits (~10 bits/key at 100k keys)
BLOOM_K = 3  # probes per key


def _probe(col: str, i: int, m_bits: int):
    """(word, mask) bit position for probe i of `col` — xxhash64 seeded by
    the probe index, JVM-native end to end. SQL-expression form because the
    pyspark shiftleft/shiftright wrappers require a python-int bit count,
    while the SQL functions accept full expressions."""
    idx = f"pmod(xxhash64(`{col}`, {i}), {m_bits}L)"
    word = F.expr(f"shiftright({idx}, 6)")
    mask = F.expr(f"shiftleft(cast(1 as long), cast(pmod({idx}, 64) as int))")
    return word, mask


def bloom_build(
    keys: DataFrame, col: str, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> DataFrame:
    """The filter as a (word:long, bits:long) DataFrame, <= m_bits/64 rows.

    One unioned probe projection + ONE map-side-combined bit_or groupBy;
    store size only affects the scan, never the output size. Write the
    result to parquet to persist the filter as an incremental artifact
    (re-build = old words UNION new keys' words, same groupBy)."""
    parts = []
    for i in range(k):
        word, mask = _probe(col, i, m_bits)
        parts.append(
            keys.filter(F.col(col).isNotNull()).select(
                word.alias("word"), mask.alias("mask")
            )
        )
    melt = reduce(lambda a, b: a.unionByName(b), parts)
    return melt.groupBy("word").agg(F.bit_or("mask").alias("bits"))


def bloom_maybe(
    df: DataFrame,
    col: str,
    filter_df: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    flag: str = "_bloom_maybe",
) -> DataFrame:
    """Append `flag`: True iff all k probed bits are set (possible member);
    False is a PROOF of absence. k broadcast joins against the tiny filter
    table — map-side, no shuffle of `df`."""
    out = df
    aux = []
    for i in range(k):
        word, mask = _probe(col, i, m_bits)
        w, b, m, h = f"_blw{i}", f"_blb{i}", f"_blm{i}", f"_blh{i}"
        aux += [w, b, m, h]
        fi = filter_df.select(F.col("word").alias(w), F.col("bits").alias(b))
        out = (
            out.withColumn(w, word)
            .withColumn(m, mask)
            .join(F.broadcast(fi), w, "left")
            .withColumn(h, F.coalesce(F.col(b).bitwiseAND(F.col(m)) != 0, F.lit(False)))
        )
    hit = reduce(lambda a, b: a & b, [F.col(f"_blh{i}") for i in range(k)])
    return out.withColumn(flag, hit).drop(*aux)


def anti_join_via_bloom(
    new: DataFrame,
    store_keys: DataFrame,
    col: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    filter_df: DataFrame | None = None,
) -> DataFrame:
    """Rows of `new` whose `col` is NOT among `store_keys` — value-equal to
    `new.join(store_keys, col, "left_anti")`, with the bloom pruning
    definite-misses before the exact join.

    Pass a persisted `filter_df` (bloom_build output reloaded from parquet)
    to skip the build scan entirely — the incremental-ingest shape: the
    store is scanned once per FILTER REFRESH, not once per batch, and the
    per-batch cost is map-side probes plus an anti-join over the sliver of
    maybe-members (false positives + true duplicates)."""
    if filter_df is None:
        # eager checkpoint: the k broadcast probes each re-evaluate their
        # build side, so an un-pinned filter would scan the store k times
        filter_df = bloom_build(store_keys, col, m_bits, k).localCheckpoint(eager=True)
    flagged = bloom_maybe(new, col, filter_df, m_bits, k)
    # the union below consumes `flagged` twice; a lazy checkpoint makes the
    # scan + probe chain run once, not once per branch
    flagged = flagged.localCheckpoint(eager=False)
    definite = flagged.filter(~F.col("_bloom_maybe")).drop("_bloom_maybe")
    maybe = flagged.filter(F.col("_bloom_maybe")).drop("_bloom_maybe")
    survivors = maybe.join(store_keys.select(col).distinct(), col, "left_anti")
    return definite.unionByName(survivors)
