"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale design notes (the reason each op is shaped the way it is):
  * exact dedup: one hash-groupBy on a 32-hex key — a single shuffle on a
    uniform key; at 10^12 docs this is the cheapest possible global dedup.
  * MinHash+LSH: signatures are computed with ONE explode + ONE groupBy
    (K min-aggregates in the same pass, not K passes); candidate generation
    joins on band digests only, so the join keys are tiny and uniformly
    distributed — never a cross join.
  * Jaccard verification runs ONLY on LSH candidates (semi-join first), the
    standard verify-after-filter shape.
  * SimHash: Arrow-batched pandas UDF (numpy bit-votes), banded for
    candidate generation like MinHash.

The md5-based hash family is shared verbatim with the DuckDB oracle SQL
(string min over hex digests == a valid min-hash), making the whole dedup
path value-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text_analysis import fingerprint_col

MINHASH_K = 8  # permutations; banded into pairs => 4 bands (r=2, b=4:
# P(candidate) = 1-(1-j^2)^4 — ~0.97 at jaccard 0.8, ~0.26 at jaccard 0.3)


def exact_dedup_stats(docs: DataFrame) -> DataFrame:
    """Global exact-duplicate statistics over the md5 fingerprint."""
    fp = docs.select(fingerprint_col(F.col("text")).alias("fp"))
    groups = fp.groupBy("fp").agg(F.count("*").alias("cnt"))
    return groups.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count("*").alias("n_fps"),
        (F.sum("cnt") - F.count("*")).cast("long").alias("n_dup_rows"),
        F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_groups"),
    )


def shingles(docs: DataFrame, id_col: str = "doc_id", n: int = 3, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document: (id, s).

    One explode; documents shorter than n words drop out (no shingle).
    distinct=True (default) dedups to the shingle SET — required for exact
    Jaccard (set sizes / intersections). Pass False when only min-hash
    signatures are needed: min() is invariant to duplicates, so skipping
    the distinct saves a full (id, s) shuffle on the widest table.
    """
    # fully-native formulation (no HOF lambdas): zip n shifted slices of the
    # materialized words array and concat the struct fields. The earlier
    # transform(sequence, element_at) form re-evaluated split(text) per
    # element inside the interpreted lambda — measured ~18x slower.
    w = F.col("_w")
    cnt = F.size(w) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(w, 1 + j, cnt) for j in range(n)])
    out = (
        docs.withColumn("_w", F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .filter(F.size(w) >= n)
        .select(F.col(id_col).alias("id"), F.explode(zipped).alias("_z"))
        .select("id", F.concat_ws(" ", *[F.col("_z").getField(str(j)) for j in range(n)]).alias("s"))
    )
    return out.distinct() if distinct else out


def minhash_signatures(sh: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(id, s0..s{k-1}): k min-hashes in ONE aggregation pass.

    Hash family: md5 of "<perm>|<shingle>"; the lexicographic min over hex
    digests is a valid (deterministic, well-mixed) min-hash and is
    reproducible in any engine with md5.

    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")).cast("binary"))).alias(f"s{i}")
        for i in range(k)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_profiles(
    docs: DataFrame,
    n: int = 3,
    k: int = MINHASH_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_sets: bool = False,
) -> DataFrame:
    """Fused shingle+minhash: (id, s0..s{k-1}[, _ts, sz]) in ONE Arrow pass.

    Value-identical to minhash_signatures(shingles(docs)) — the shuffle-free
    fast path: a doc is one input row, so its signature completes inside the
    batch and the explode -> groupBy shuffle of the full shingle multiset
    disappears; a per-task md5 cache hashes each DISTINCT shingle once
    (corpora repeat shingles heavily) instead of once per instance.

    Exact-parity notes (every step mirrors the Column expressions of
    shingles()/minhash_signatures() bit-for-bit on the bytes that matter):
      * trim = strip of ASCII space only (Spark `trim` semantics);
      * the split regex is Java's \\s class ([ \\t\\n\\x0b\\f\\r]) — NOT
        Python's unicode-aware \\s — and keeps the leading empty token a
        separator-initial string produces, exactly like F.split;
      * shingle = " ".join of n consecutive tokens (concat_ws semantics on
        non-null strings); docs with fewer than n tokens emit NO row;
      * s_i = min over the doc's shingle SET of md5 hex of "<i>|<shingle>"
        (UTF-8); hex strings compare bytewise in both engines.

    with_sets=True additionally emits the sorted shingle-set array and its
    size — the inputs jaccard_verify needs — so verify-consumers avoid a
    second shingle pass entirely.
    """
    import hashlib
    import re

    sel = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    id_type = sel.schema["id"].dataType.simpleString()
    schema = f"id {id_type}, " + ", ".join(f"s{i} string" for i in range(k))
    if with_sets:
        schema += ", _ts array<string>, sz bigint"
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    prefixes = [f"{i}|".encode("utf-8") for i in range(k)]

    def _profiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            rows: list[list] = []
            for did, text in zip(pdf["id"], pdf["text"]):
                if text is None:
                    continue
                toks = ws.split(text.strip(" ").lower())
                if len(toks) < n:
                    continue
                sset = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
                mins: list[str] = []
                first = True
                for s in sset:
                    hs = cache.get(s)
                    if hs is None:
                        sb = s.encode("utf-8")
                        hs = [hashlib.md5(p + sb).hexdigest() for p in prefixes]
                        if len(cache) > 2_000_000:  # vocab blow-up guard
                            cache.clear()
                        cache[s] = hs
                    if first:
                        mins = list(hs)
                        first = False
                    else:
                        for i in range(k):
                            if hs[i] < mins[i]:
                                mins[i] = hs[i]
                row = [did, *mins]
                if with_sets:
                    ss = sorted(sset)
                    row.extend([ss, len(ss)])
                rows.append(row)
            cols = ["id"] + [f"s{i}" for i in range(k)]
            if with_sets:
                cols += ["_ts", "sz"]
            yield pd.DataFrame(rows, columns=cols)

    return sel.mapInPandas(_profiles, schema=schema)


def lsh_candidate_pairs(sig: DataFrame, k: int = MINHASH_K, cap: int | None = None) -> DataFrame:
    """Banded LSH: band digest = md5(concat of 2 signature parts); candidate
    pairs = ids sharing any band. Joins are on 32-hex band keys (uniform),
    so the shuffle is narrow even at extreme scale; each band join carries
    the hot-key cap (operators/pairs.py) so a band shared by thousands of
    identical docs emits O(m) star pairs, never O(m^2)."""
    from .pairs import capped_band_pairs

    bands = sig.select(
        "id",
        *[
            F.md5(F.concat(F.col(f"s{2*b}"), F.col(f"s{2*b+1}")).cast("binary")).alias(f"b{b}")
            for b in range(k // 2)
        ],
    )
    pairs = capped_band_pairs(bands, [f"b{b}" for b in range(k // 2)], "id", cap)
    return pairs.select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))


def jaccard_verify(sh: DataFrame, cand: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only (verify-after-
    filter).

    Shape: the shingle table is rolled up ONCE to (id, shingle-set array,
    sz); each candidate pair joins the two set arrays and the intersection
    is a single codegen `size(array_intersect(...))` per pair. This
    replaces the earlier token-level verify join (cand x per-doc shingle
    explode -> |cand| * avg_sz intermediate rows re-aggregated by pair)
    with |cand| rows total — same exact counts, two orders of magnitude
    fewer shuffled rows at sf>=1 candidate volumes. Pairs with an empty
    intersection produce jaccard 0.0 and are dropped by the threshold
    filter exactly like the old inner-join form dropped them (threshold is
    always > 0 here). A shingle repeated within a doc counts once."""
    sets = sh.groupBy("id").agg(F.collect_set("s").alias("_ts")).withColumn(
        "sz", F.size("_ts")
    )
    return jaccard_verify_sets(sets, cand, threshold)


def jaccard_verify_sets(sets: DataFrame, cand: DataFrame, threshold: float = 0.6) -> DataFrame:
    """jaccard_verify over a prebuilt (id, _ts: array, sz) set table —
    the entry point for callers that already hold per-doc shingle-set
    arrays (minhash_profiles with_sets=True) and skip the rollup."""
    assert threshold > 0
    inter = (
        cand.join(
            sets.select(
                F.col("id").alias("doc_a"), F.col("_ts").alias("_ta"), F.col("sz").alias("sz_a")
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("id").alias("doc_b"), F.col("_ts").alias("_tb"), F.col("sz").alias("sz_b")
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("_ta", "_tb")))
    )
    out = (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def editdist_verify(
    docs: DataFrame,
    cand: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact edit-distance (Levenshtein) verification of candidate pairs —
    the classic character-level near-dup verify, as a pure whole-stage-
    codegen plan: `F.levenshtein` is a JVM built-in, so unlike the
    shingle-set Jaccard verify no explode/re-aggregation is needed; the
    candidate table joins each side's text once and the O(len_a·len_b)
    dynamic program runs inside codegen per pair.

    Similarity is 1 - lev/max(len_a, len_b, 1) (the ,1 guards the
    both-empty pair identically on the engine and oracle sides). Verify-
    after-filter: candidates come from banded LSH (bounded by the hot-key
    cap), so at 10^12 docs the quadratic kernel only ever runs on the
    candidate sliver and the only payload shuffle is the two text joins
    keyed by candidate id."""
    a = docs.select(
        F.col(id_col).alias("doc_a"),
        F.col(text_col).alias("_ta"),
        F.length(text_col).alias("_la"),
    )
    b = docs.select(
        F.col(id_col).alias("doc_b"),
        F.col(text_col).alias("_tb"),
        F.length(text_col).alias("_lb"),
    )
    # Two LOSSLESS accelerations around the final (unchanged) filter:
    #   * length prefilter — lev >= |la - lb|, so sim >= t needs
    #     |la - lb| <= (1-t)*max(la, lb). Applied with a slack margin
    #     (0.25 max + 4 for t=0.8) so float boundaries cannot flip it; the
    #     exact filter below still decides membership. Skips the DP kernel
    #     for most mismatched-length candidates.
    #   * banded Levenshtein — F.levenshtein's threshold form early-exits
    #     at O((la+lb)*thr) instead of O(la*lb). thr is derived from the
    #     corpus max length with the same slack, so every pair that can
    #     pass the final filter gets its EXACT distance; pairs returned -1
    #     are provably below threshold and are dropped.
    slack_num = max(1, int((1.0 - threshold) * 100) + 5)  # percent, slack +5pp
    max_len = docs.agg(F.max(F.length(text_col))).first()[0] or 1
    band = int(max_len * slack_num) // 100 + 1
    mx = F.greatest("_la", "_lb", F.lit(1))
    lev = F.levenshtein("_ta", "_tb", band)
    # explicit spread of the (byte-small, compute-heavy) candidate list:
    # AQE coalesces it to ONE post-shuffle partition by size, which would
    # run every Levenshtein DP on a single task (measured 10 s single-task
    # stages at sf1-scale candidate volumes)
    n_par = min(docs.sparkSession.sparkContext.defaultParallelism, 64)
    cand = cand.repartition(n_par)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(
            F.abs(F.col("_la") - F.col("_lb")) * 100 <= mx * slack_num + F.lit(400)
        )
        .withColumn("_lev", lev)
        .filter((F.col("_lev") >= 0) & ((F.lit(1.0) - F.col("_lev").cast("double") / mx.cast("double")) >= threshold))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.lit(1.0) - F.col("_lev").cast("double") / mx.cast("double"), 4).alias("edit_sim"),
        )
    )


# ----------------------------------------------------------------- SimHash

_SIMHASH_SCHEMA = "id bigint, h0 string, h1 string, h2 string, h3 string"


def simhash_bands(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc, emitted as four 16-bit hex bands.

    Arrow-batched pandas UDF: per token, 64 hash bits vote +1/-1 weighted by
    term frequency; the sign vector is the fingerprint. Near-duplicate docs
    differ in few bits, so they collide on at least one 16-bit band with
    high probability (banded exactly like MinHash-LSH).
    """
    sel = docs.select(F.col(id_col).alias("id"), "text")

    def _simhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            # batch-level vocabulary: one md5 per DISTINCT token in the batch
            # (tokens are Zipf-heavy, so this collapses most of the hash
            # work); votes stay exact int64, identical to the per-doc form
            ids: list = []
            vocab: dict[str, int] = {}
            mem_d: list[int] = []  # doc index per (doc, distinct-token)
            mem_t: list[int] = []  # token index
            mem_c: list[int] = []  # term frequency
            for did, text in zip(pdf["id"], pdf["text"]):
                toks = (text or "").lower().split()
                if not toks:
                    # token-less doc (null/empty/whitespace text): emit NO
                    # row. Fingerprint 0 would collide every such doc on
                    # every band and the SQL oracle omits them too.
                    continue
                di = len(ids)
                ids.append(did)
                cnt: dict[str, int] = {}
                for t in toks:
                    cnt[t] = cnt.get(t, 0) + 1
                for t, c in cnt.items():
                    mem_d.append(di)
                    mem_t.append(vocab.setdefault(t, len(vocab)))
                    mem_c.append(c)
            if not ids:
                yield pd.DataFrame({"id": [], "h0": [], "h1": [], "h2": [], "h3": []})
                continue
            digests = np.empty((len(vocab), 8), dtype=np.uint8)
            for t, ti in vocab.items():
                digests[ti] = np.frombuffer(
                    hashlib.md5(t.encode("utf-8")).digest()[:8], dtype=np.uint8
                )
            pm = 2 * np.unpackbits(digests, axis=1).astype(np.int64) - 1  # (V, 64)
            votes = np.zeros((len(ids), 64), dtype=np.int64)
            np.add.at(
                votes,
                np.asarray(mem_d),
                np.asarray(mem_c, dtype=np.int64)[:, None] * pm[np.asarray(mem_t)],
            )
            sign = (votes > 0).astype(np.int64)  # MSB-first bit order as before
            w16 = 1 << np.arange(15, -1, -1, dtype=np.int64)
            out = {"id": ids}
            for b in range(4):
                vals = sign[:, b * 16 : (b + 1) * 16] @ w16
                out[f"h{b}"] = [f"{int(v):04x}" for v in vals]
            yield pd.DataFrame(out)

    return sel.mapInPandas(_simhash, schema=_SIMHASH_SCHEMA)


def simhash_candidate_pairs(
    docs: DataFrame, id_col: str = "doc_id", cap: int | None = None
) -> DataFrame:
    """Near-dup candidates: ids sharing any 16-bit SimHash band (band joins
    hot-key-capped, operators/pairs.py)."""
    from .pairs import capped_band_pairs

    bands = simhash_bands(docs, id_col)
    pairs = capped_band_pairs(bands, [f"h{b}" for b in range(4)], "id", cap)
    return pairs.select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))


def word_token_sets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word-token set per document: (id, tok).

    Whitespace tokenization of the trimmed text — the unit the exact
    set-similarity join operates on (1-shingles; shingles() covers n>1).
    """
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))).alias("tok"),
    ).filter(F.col("tok") != "")


def prefix_filter_pairs(
    items: DataFrame,
    threshold_num: int = 7,
    threshold_den: int = 10,
    id_col: str = "id",
    item_col: str = "tok",
) -> DataFrame:
    """EXACT-threshold Jaccard similarity self-join via prefix filtering
    (the AllPairs / PPJoin candidate-generation family) — returns every pair
    of ids whose ITEM SETS have Jaccard >= threshold_num/threshold_den, with
    no false negatives. `items` is any distinct (id, item) set relation —
    word_token_sets() for 1-grams, shingles() for n-grams, or an arbitrary
    feature-set table.

    This is the lossless counterpart of the MinHash-LSH path: LSH trades
    recall for speed probabilistically; prefix filtering keeps exactness and
    prunes algebraically instead. Two classic lossless filters:

      * prefix filter — order the vocabulary globally by ascending document
        frequency (rarest first; ties on the token), sort each doc's tokens
        in that order, and keep only the first p = sz - ceil(t*sz) + 1 as
        join keys. Any pair with J >= t MUST share a token inside both
        prefixes, so the candidate equi-join on prefix tokens misses nothing
        — and because the prefix preferentially selects each doc's RAREST
        tokens, the join-key frequency distribution is df-bounded (the
        hot-token blowup LSH bands need capped_band_pairs for is pruned by
        construction here).
      * length filter — J <= min(sz)/max(sz), so J >= t requires
        den*min_sz >= num*max_sz; applied inside the candidate join.

    All threshold comparisons are integer cross-multiplied (threshold is a
    rational num/den; ceil(t*sz) = (num*sz + den - 1) // den), so the
    losslessness argument holds bit-exactly — the DuckDB oracle for this
    operator is the BRUTE-FORCE threshold join, which proves the filter
    chain drops nothing.

    Scale shape at 10^12 docs: the df table is vocabulary-sized (groupBy on
    token, heavily combinable map-side); the per-doc rank is one shuffle by
    id; the candidate join runs on rare-token keys only; the verify
    (intersection count) runs on candidates only. Residual worst case — a
    corpus where even rare tokens are hot — degrades to PPJoin's positional
    filter or pairs.capped_key_pairs at the cost of exactness (seam
    documented, not silently applied).

    Ancestry: exact near-dup intent of the reference's fingerprint dedup
    (/root/reference/src/datasmith/utils.py:88-104); algorithm from the
    public AllPairs (Bayardo et al., WWW'07) / PPJoin (Xiao et al., WWW'08)
    constructions.
    """
    num, den = int(threshold_num), int(threshold_den)
    if not (0 < num <= den):
        raise ValueError(f"threshold must be in (0, 1]: {num}/{den}")
    from pyspark.sql import Window

    tok = items.select(F.col(id_col).alias("id"), F.col(item_col).alias("tok"))
    # One collect_set rollup is the ONLY full-width shuffle: it dedups
    # map-side (so `items` no longer needs a pre-distinct pass — duplicate
    # (id, item) rows are tolerated and collapse here) and every later step
    # runs on the doc-count-sized set table. Materialized once because it
    # feeds both the df count and the doc-array build (Spark re-executed
    # shared subtrees once per consumer at sf1-scale inputs — measured 4x).
    # explicit repartition before each checkpoint: AQE coalesces these
    # small aggregates to ONE post-shuffle partition, and a checkpoint pins
    # that — which would serialize the whole downstream candidate join on a
    # single task (measured 60+ s single-task stages at sf1-scale inputs)
    spark = items.sparkSession
    n_par = min(spark.sparkContext.defaultParallelism, 64)
    sets0 = (
        tok.groupBy("id")
        .agg(F.collect_set("tok").alias("_tokset"))
        .repartition(n_par, "id")
        .localCheckpoint(eager=True)
    )
    exploded = sets0.select("id", F.explode("_tokset").alias("tok"))
    # Dictionary-encode the vocabulary by the SAME global order the prefix
    # filter ranks on (df asc, tok asc): tid = row_number over the
    # vocabulary-bounded df table. Docs then become sorted int arrays whose
    # FIRST p elements are exactly the (df, tok)-ranked prefix — no per-doc
    # row_number window over the full (id, tok) relation, and both
    # candidate keys and the verify intersections run on ints.
    df = exploded.groupBy("tok").agg(F.count("*").alias("df"))
    dfr = df.select(
        "tok", F.row_number().over(Window.orderBy(F.asc("df"), F.asc("tok"))).alias("tid")
    )
    docs_arr = (
        exploded.join(dfr, "tok")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("tid")).alias("ts"))
        .withColumn("sz", F.size("ts"))
        .repartition(n_par, "id")
        .localCheckpoint(eager=True)
    )
    # p = sz - ceil(num*sz/den) + 1, integer-exact (DIV, never float)
    prefix_len = F.col("sz") - F.expr(f"({num} * sz + {den - 1}) DIV {den}") + F.lit(1)
    pre = docs_arr.select(
        "id", "sz", F.posexplode(F.slice("ts", 1, prefix_len)).alias("pos0", "tid")
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tid") == F.col("b.tid"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: den*min_sz >= num*max_sz
            & (
                F.lit(den) * F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.lit(num) * F.greatest(F.col("a.sz"), F.col("b.sz"))
            )
            # PPJoin positional filter: meeting at 0-based prefix positions
            # (pa, pb), the intersection is at most
            # 1 + min(sz_a - pa - 1, sz_b - pb - 1); J >= num/den needs
            # inter >= ceil(num*(sz_a+sz_b)/(num+den)) — prune pairs whose
            # upper bound cannot reach it (lossless: bound >= true inter).
            & (
                F.lit(num + den)
                * (
                    F.lit(1)
                    + F.least(
                        F.col("a.sz") - F.col("a.pos0") - 1,
                        F.col("b.sz") - F.col("b.pos0") - 1,
                    )
                )
                >= F.lit(num) * (F.col("a.sz") + F.col("b.sz"))
            ),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
    )
    # NOTE: candidates are NOT deduped here — a pair meeting at several
    # prefix tokens is verified once per meeting (measured ~1% duplicate
    # rate on Zipf-ish corpora) and the duplicates collapse in the final
    # distinct over the (tiny) qualifying output. This trades a full-width
    # 5M-row dedup shuffle for a few percent of redundant array_intersect
    # calls.
    inter = (
        cand.join(
            docs_arr.select(F.col("id").alias("doc_a"), F.col("ts").alias("_ta")), "doc_a"
        )
        .join(docs_arr.select(F.col("id").alias("doc_b"), F.col("ts").alias("_tb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("_ta", "_tb")).alias("inter"),
        )
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.filter(F.lit(den) * F.col("inter") >= F.lit(num) * union_sz)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter").cast("double") / union_sz.cast("double"), 4).alias("jaccard"),
        )
        .distinct()
    )
