"""BPE tokenizer training (q75): serial kernel semantics, distributed ==
serial merge-for-merge, partitioning invariance, fixture honesty."""

from __future__ import annotations

import pandas as pd
import pytest

from datasmith_spark.core.bpe import EOW, bpe_train, best_pair, merge_seq, symbolize

from .conftest import REPO


class TestKernel:
    def test_symbolize_and_overlap_rule(self):
        assert symbolize("ab") == ("a", "b", EOW)
        # 'aaa' under (a,a): left-to-right gives ('aa','a'), not ('a','aa')
        assert merge_seq(("a", "a", "a"), "a", "a") == ("aa", "a")
        assert merge_seq(("a", "a", "a", "a"), "a", "a") == ("aa", "aa")

    def test_tie_breaks_to_lexicographically_smallest(self):
        # all four pairs tie at count 1; '<' sorts before 'b', so the
        # lexicographically smallest pair ('a', '</w>') wins
        m = bpe_train({"ab": 1, "ba": 1}, 1)
        assert (m[0][1], m[0][2]) == ("a", EOW)
        # a pure letter tie, isolated at the best_pair level
        m3 = best_pair({("b", "a"): 3, ("a", "b"): 3})
        assert (m3[0], m3[1]) == ("a", "b")

    def test_collapsed_sequences_accumulate_frequency(self):
        # after merging (a,b), 'ab' and a hypothetical pre-merged form must
        # pool counts — exercised via words that become identical
        m = bpe_train({"ab": 3, "abab": 2}, 4)
        ranks = [(x[1], x[2], x[3]) for x in m]
        assert ranks[0] == ("a", "b", 7)  # 3 + 2*2

    def test_early_stop(self):
        m = bpe_train({"ab": 1}, 100)
        assert len(m) == 2  # (a,b) then (ab,</w>) and nothing remains


class TestDistributed:
    def _docs(self, spark, texts, parts=1):
        return spark.createDataFrame(pd.DataFrame({"text": texts})).repartition(parts)

    def test_matches_serial_merge_for_merge(self, spark):
        import re
        from collections import Counter

        from datasmith_spark.operators.bpe_train import bpe_train_distributed

        texts = [
            "the quick brown fox jumps over the lazy dog",
            "the quicker the better",
            "pack my box with five dozen liquor jugs",
            None,
            "   ",
        ] * 3
        wc = Counter()
        for t in texts:
            if not t:
                continue
            for w in re.split(r"\s+", t.strip()):
                if w:
                    wc[w] += 1
        want = bpe_train(dict(wc), 12)
        got = bpe_train_distributed(self._docs(spark, texts, parts=5), 12)
        assert got == want

    def test_partitioning_invariance(self, spark):
        from datasmith_spark.operators.bpe_train import bpe_train_distributed

        texts = ["aa ab ba bb ab aa", "ba aa bb", "ab ab aa"] * 2
        a = bpe_train_distributed(self._docs(spark, texts, parts=1), 6)
        b = bpe_train_distributed(self._docs(spark, texts, parts=7), 6)
        assert a == b


class TestFixtureHonesty:
    def test_committed_fixture_matches_retrained_prefix(self):
        from scripts.make_bpe_fixture import transcript_word_counts

        fx = pd.read_parquet(f"{REPO}/fixtures/oracle_bpe_n4000_m24.parquet")
        # retrain the first 8 merges over the same word table — a prefix of
        # BPE training is exact (later merges never affect earlier ones)
        merges = bpe_train(transcript_word_counts(4000), 8)
        want = [(r["rank"], r["left"], r["right"], r["pair_count"]) for _, r in fx.head(8).iterrows()]
        assert merges == [tuple(m) for m in want]



class TestEncode:
    def test_encode_roundtrip_property(self):
        from datasmith_spark.core.bpe import encode_word

        merges = [("l", "o"), ("lo", "w"), ("e", "r")]
        for w in ("low", "lower", "lowest", "slow", "x"):
            toks = encode_word(w, merges)
            assert "".join(toks) == w + EOW  # lossless segmentation

    def test_spark_encode_counts_match_serial(self, spark):
        import re
        from collections import Counter

        from datasmith_spark.core.bpe import encode_word
        from datasmith_spark.operators.bpe_train import bpe_encode_counts

        texts = ["low lower lowest", "slow glow low", "lower slower"] * 3
        merges = [("l", "o"), ("lo", "w"), ("low", EOW)]
        got = {
            r["token"]: (r["rank"], r["n"])
            for r in bpe_encode_counts(
                spark.createDataFrame(pd.DataFrame({"text": texts})).repartition(4),
                merges,
                top=100,
            ).collect()
        }
        counts = Counter()
        for t in texts:
            for w in re.split(r"\s+", t.strip()):
                if w:
                    for tok in encode_word(w, merges):
                        counts[tok] += 1
        want_order = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want = {t: (i + 1, c) for i, (t, c) in enumerate(want_order)}
        assert got == want
if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-q"]))


class TestBpeFertility:
    def test_hand_corpus_exact(self, spark):
        """Fertility on a 2-language toy corpus matches hand counting."""
        from datasmith_spark.core.bpe import bpe_train
        from datasmith_spark.operators.bpe_train import bpe_fertility

        merges = [(m[1], m[2]) for m in bpe_train({"low": 5, "lower": 2}, 4)]
        docs = spark.createDataFrame(
            [("en", "low low lower"), ("xx", "abc de")],
            "lang string, text string",
        )
        out = {r.lang: r for r in bpe_fertility(docs, merges).collect()}
        from datasmith_spark.core.bpe import encode_word

        # en: 'low' x2 + 'lower' x1
        n_tok_en = 2 * len(encode_word("low", merges)) + len(
            encode_word("lower", merges)
        )
        assert out["en"].n_words == 3
        assert out["en"].n_tokens == n_tok_en
        assert out["en"].n_chars == 2 * 3 + 5
        assert out["en"].fertility_milli == (1000 * n_tok_en) // 11
        # xx: untrained chars explode to char+EOW tokens
        n_tok_xx = len(encode_word("abc", merges)) + len(encode_word("de", merges))
        assert out["xx"].n_tokens == n_tok_xx == 4 + 3
        assert out["xx"].fertility_milli == (1000 * 7) // 5

    def test_shared_words_counted_per_language(self, spark):
        """A word appearing in two languages contributes to both rows
        (the join fans the single encode back out by language)."""
        from datasmith_spark.operators.bpe_train import bpe_fertility

        docs = spark.createDataFrame(
            [("a", "word word"), ("b", "word")], "lang string, text string"
        )
        out = {r.lang: r for r in bpe_fertility(docs, []).collect()}
        assert out["a"].n_words == 2 and out["b"].n_words == 1
        assert out["a"].n_tokens == 2 * out["b"].n_tokens

    def test_fixture_honesty(self):
        """Committed fixture re-derivable from the two source artifacts."""
        import re

        import pandas as pd

        from datasmith_spark.core.bpe import encode_word

        fx = pd.read_parquet(
            f"{REPO}/fixtures/oracle_bpe_fertility_n4000_m24.parquet"
        ).set_index("lang")
        labels = pd.read_parquet(f"{REPO}/fixtures/oracle_labels_n4000.parquet")
        merges_fx = pd.read_parquet(f"{REPO}/fixtures/oracle_bpe_n4000_m24.parquet")
        merges = [(r["left"], r["right"]) for _, r in merges_fx.iterrows()]
        sub = labels[labels.lang == "ru"]
        n_words = n_tokens = n_chars = 0
        cache = {}
        for text in sub.scrubbed_transcript:
            if text is None:
                continue
            for w in re.split(r"\s+", str(text).strip()):
                if not w:
                    continue
                if w not in cache:
                    cache[w] = len(encode_word(w, merges))
                n_words += 1
                n_tokens += cache[w]
                n_chars += len(w)
        row = fx.loc["ru"]
        assert (row.n_words, row.n_tokens, row.n_chars) == (
            n_words, n_tokens, n_chars,
        )
        assert row.fertility_milli == (1000 * n_tokens) // n_chars
