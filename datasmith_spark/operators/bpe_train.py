"""Distributed BPE tokenizer training (Spark operators).

The engine's third trained artifact, next to the langid (q67) and LM (q66)
count tables: learn byte-pair-encoding merges from the corpus itself.

Distributed shape (Sennrich et al. 2016 trained the way real tokenizer
pipelines distribute it):

  1. The ONE big-data pass: word-frequency table via the shared
     tokenization — map-side-combinable groupBy, so 10^12 documents
     collapse to a bounded distinct-word table before training starts.
  2. Every merge round runs on that word table only: adjacent-pair counts
     are ONE aggregation (native arrays_zip/slice explode — no Python),
     the argmax is ONE collected row (count desc, then lexicographically
     smallest pair — a total order, so training is deterministic), and the
     rewrite is ONE Arrow-batched narrow map applying the merge via the
     shared core/bpe.merge_seq kernel. localCheckpoint per round keeps the
     lineage flat across rounds.

Driver traffic: one (left, right, count) row per round — bounded metadata,
the broadcast-centroids shape q73 uses.

The serial reference (core/bpe.bpe_train) trains on the same word-count
table; tests assert the distributed trainer reproduces it merge-for-merge,
and the committed q75 fixture pins the single-process pass over the pinned
clips transcripts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.bpe import EOW, merge_seq

BPE_MERGES = 32


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq) word-frequency table via the shared tokenization — the
    only pass that touches the full corpus."""
    from .text_analysis import tokens_col

    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def bpe_train_distributed(
    docs: DataFrame, n_merges: int = BPE_MERGES, text_col: str = "text"
) -> list[tuple[int, str, str, int]]:
    """Train n_merges BPE merges; returns [(rank, left, right, pair_count)].

    Matches core/bpe.bpe_train exactly (same tie-break, same overlap rule,
    same early stop).

    Scale-adaptive: the ONLY corpus-sized pass is word_counts; training
    itself runs over the bounded distinct-word table. When that table is
    small enough to collect (<= SPARK_GRAFT_BPE_LOCAL_VOCAB rows, default
    2^16 — one bounded collect of at most cap+1 rows both checks the size
    and fetches the table), the merge loop runs in-process
    via the serial reference kernel (core/bpe.bpe_train), which pytest
    pins as merge-for-merge identical to the distributed loop: this
    replaces n_merges x (aggregate-job + rewrite-checkpoint-job) of
    driver round trips over a tiny table with zero jobs. Larger
    vocabularies keep the distributed per-round loop below — the
    standard industrial split (distributed counting, single-node merge
    training) either way."""
    import os

    wc = word_counts(docs, text_col)
    local_cap = int(os.environ.get("SPARK_GRAFT_BPE_LOCAL_VOCAB", str(1 << 16)))
    rows = wc.limit(local_cap + 1).collect()
    if len(rows) <= local_cap:
        from ..core.bpe import bpe_train

        return bpe_train({r["w"]: int(r["freq"]) for r in rows}, n_merges)
    seqs = wc.select(
        F.concat(F.split("w", ""), F.array(F.lit(EOW))).alias("seq"), "freq"
    ).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        n1 = F.size("seq") - 1
        pairs = seqs.select(
            F.explode(
                F.arrays_zip(
                    F.slice("seq", 1, n1).alias("l"),
                    F.slice("seq", 2, n1).alias("r"),
                )
            ).alias("p"),
            "freq",
        ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "freq")
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((rank, left, right, cnt))

        def _rewrite(batches, _l=left, _r=right):
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "seq": [list(merge_seq(tuple(s), _l, _r)) for s in pdf["seq"]],
                        "freq": pdf["freq"],
                    }
                )

        seqs = seqs.mapInPandas(
            _rewrite, schema="seq array<string>, freq long"
        ).localCheckpoint(eager=True)
    return merges


def bpe_merges_df(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """The merge table as a DataFrame (rank, left, right, pair_count)."""
    spark = docs.sparkSession
    rows = bpe_train_distributed(docs, n_merges)
    return spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long"
    )


def bpe_encode_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    top: int = 50,
) -> DataFrame:
    """Apply a trained merge list to the corpus and count subword tokens —
    the train -> apply loop closed: (rank, token, n) for the `top` most
    frequent subwords under a deterministic total order (n desc, token
    asc).

    Shape: the merge list is a broadcast-sized constant captured in the
    encode closure (like q73's centroids); encoding runs per DISTINCT word
    on the word-frequency table (one Arrow-batched narrow map over the
    bounded word table, NOT the corpus), then one explode + one
    map-side-combinable count aggregation, then the q70 top-K."""
    from pyspark.sql import Window

    from ..core.bpe import encode_word

    wc = word_counts(docs, text_col)

    def _enc(batches, _ms=tuple(merges)):
        ms = list(_ms)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "toks": [list(encode_word(w, ms)) for w in pdf["w"]],
                    "freq": pdf["freq"],
                }
            )

    toks = wc.mapInPandas(_enc, schema="toks array<string>, freq long")
    cnt = (
        toks.select(F.explode("toks").alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").alias("n"))
    )
    topk = cnt.orderBy(F.desc("n"), F.asc("token")).limit(top)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return topk.select(F.row_number().over(w).alias("rank"), "token", "n")


def bpe_fertility(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language tokenizer FERTILITY (subword tokens per character,
    milli-units by exact integer division) of a trained merge list — the
    tokenizer-fairness audit: a BPE trained on a skewed language mix
    under-serves minority languages, which then burn more tokens per
    character (higher training/inference cost per unit of text) and
    effectively see a shorter context window. Emits per language the exact
    integer (n_words, n_tokens, n_chars, fertility_milli = 1000*n_tokens
    // n_chars); token counts include the </w> end-of-word marker the
    encoder emits (both engines count it identically).

    Shape: one corpus pass to the (lang, word) frequency table; encoding
    runs ONCE per distinct word (bounded vocabulary, Arrow-batched narrow
    map with the merge list captured as a broadcast-sized constant — the
    q76 shape); then one join on the word and one map-side-combinable
    per-language sum. The corpus is never re-tokenized per language."""
    from ..core.bpe import encode_word
    from .text_analysis import tokens_col

    wl = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(lang_col).alias("lang"),
            F.explode(tokens_col(F.col(text_col))).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    dw = wl.select("w").distinct()

    def _enc(batches, _ms=tuple(merges)):
        ms = list(_ms)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "n_toks": pd.array(
                        [len(encode_word(w, ms)) for w in pdf["w"]], dtype="int32"
                    ),
                    "n_chars": pd.array([len(w) for w in pdf["w"]], dtype="int32"),
                }
            )

    enc = dw.mapInPandas(_enc, schema="w string, n_toks int, n_chars int")
    return (
        wl.join(enc, "w")
        .groupBy("lang")
        .agg(
            F.sum("freq").cast("long").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_toks")).cast("long").alias("n_tokens"),
            F.sum(F.col("freq") * F.col("n_chars")).cast("long").alias("n_chars"),
        )
        .select(
            "lang", "n_words", "n_tokens", "n_chars",
            F.expr("(1000 * n_tokens) div n_chars").alias("fertility_milli"),
        )
    )
