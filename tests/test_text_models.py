"""langid / perplexity / scrub kernels: accuracy, determinism, edge cases."""

import numpy as np

from datasmith_spark.core import langid, lm, text
from datasmith_spark.core.scrub import scrub_text

from .conftest import REPO


def test_langid_accuracy_on_fresh_text():
    m = langid.model()
    rng = np.random.default_rng(999)  # disjoint from training seeds
    correct = total = 0
    for li, lang in enumerate(text.LANGS):
        for _ in range(50):
            s = text.gen_sentence(rng, lang, 25)
            pred, prob = m.predict_one(s)
            total += 1
            correct += pred == lang
    assert correct / total >= 0.99, correct / total


def test_langid_empty_and_junk():
    m = langid.model()
    assert m.predict_one(None) == (None, 0.0)
    assert m.predict_one("   ") == (None, 0.0)
    _, prob = m.predict_one("@@## $$%% ^^&&")
    assert prob < 0.95  # junk should not be confident


def test_langid_deterministic():
    m = langid.model()
    s = "the quick brown fox jumps over the lazy dog"
    assert m.predict_one(s) == m.predict_one(s)


def test_ppl_bands_separate_clean_from_gibberish():
    m = lm.model()
    rng = np.random.default_rng(777)
    for lang in text.LANGS:
        clean = text.gen_sentence(rng, lang, 30)
        assert m.in_band(m.ppl_one(clean, lang), lang), lang
    gibberish = "zqx jvw qqq kkk zzz xxp wvu " * 5
    assert not m.in_band(m.ppl_one(gibberish, "en"), "en")
    assert not m.in_band(float("inf"), "en")


def test_scrub_patterns():
    s, pii, tox = scrub_text(
        "call me at (212) 555-1234 or john.doe42@example.com ssn 123-45-6789 "
        "ip 10.1.2.3 site https://example.com/page/1 you smeghead"
    )
    assert "<PII:PHONE>" in s and "<PII:EMAIL>" in s and "<PII:SSN>" in s
    assert "<PII:IP>" in s and "<PII:URL>" in s and "<TOX>" in s
    assert pii == 5 and tox == 1
    assert "555" not in s and "example.com" not in s


def test_scrub_none_and_clean():
    assert scrub_text(None) == (None, 0, 0)
    s, pii, tox = scrub_text("a perfectly clean sentence")
    assert s == "a perfectly clean sentence" and pii == 0 and tox == 0


def test_langid_batch_bitwise_equals_one():
    """predict_batch must be BIT-identical to predict_one (both reduce via
    the canonical np.add.reduceat order) — the Spark batch path and the
    per-row oracle path therefore agree exactly."""
    from datasmith_spark import datagen

    m = langid.model()
    texts = [datagen.gen_row(i)["transcript"] for i in range(400)]
    texts += [None, "", "   ", "a", "hello world", "zzz " * 500]
    bl, bp = m.predict_batch(texts)
    for i, t in enumerate(texts):
        lang, p = m.predict_one(t)
        assert bl[i] == lang and bp[i] == p, (i, t, bl[i], bp[i], lang, p)


def test_ppl_batch_bitwise_equals_one():
    from datasmith_spark import datagen

    m = lm.model()
    lid = langid.model()
    texts = [datagen.gen_row(i)["transcript"] for i in range(400)]
    texts += [None, "", "   ", "a", "hello world", "zzz " * 500]
    langs = [lid.predict_one(t)[0] for t in texts]
    langs[3] = "xx"  # unknown lang -> inf on both paths
    b = m.ppl_batch(texts, langs)
    for i, (t, lg) in enumerate(zip(texts, langs)):
        one = m.ppl_one(t, lg)
        assert (np.isinf(one) and np.isinf(b[i])) or one == b[i], (i, one, b[i])


class TestLmTrainCounts:
    """q66: the distributed LM-count job must reproduce a serial count pass
    exactly, and a model assembled from it must SCORE bit-identically."""

    def test_spark_counts_equal_serial_and_model_scores_match(self, spark):
        import pandas as pd

        from datasmith_spark.core.lm import N_BUCKETS, _tri_bi_hashes
        from datasmith_spark.core.text import LANGS
        from datasmith_spark.operators.text_analysis import (
            lm_model_from_counts,
            lm_train_counts,
        )

        from datasmith_spark import datagen

        texts = [datagen.gen_row(i)["transcript"] for i in range(200)]
        texts += [None, "", "   "]  # skip-rule rows contribute nothing
        langs = [LANGS[i % len(LANGS)] for i in range(len(texts))]
        pdf = pd.DataFrame({"lang": langs, "text": texts})

        rows = lm_train_counts(
            spark.createDataFrame(pdf).repartition(7)
        ).collect()

        # serial reference counts
        serial: dict = {}
        for lang, text in zip(langs, texts):
            if not text or not text.strip():
                continue
            h3, h2 = _tri_bi_hashes(text.lower())
            for kind, hs in (("tri", h3), ("bi", h2)):
                for b in hs:
                    k = (lang, kind, int(b))
                    serial[k] = serial.get(k, 0) + 1
        got = {(r["lang"], r["kind"], r["bucket"]): r["n"] for r in rows}
        assert got == serial

        # a model assembled from the distributed counts scores identically
        # to one assembled from the serial counts (integer counts -> the
        # smoothing arithmetic sees bit-identical inputs)
        m_dist = lm_model_from_counts(rows)
        m_serial = lm_model_from_counts(
            [
                {"lang": lg, "kind": kd, "bucket": b, "n": n}
                for (lg, kd, b), n in serial.items()
            ]
        )
        for t, lg in zip(texts[:50], langs[:50]):
            assert m_dist.ppl_one(t, lg) == m_serial.ppl_one(t, lg)
        assert 0 <= min(r["bucket"] for r in rows) <= max(r["bucket"] for r in rows) < N_BUCKETS

    def test_single_exchange_plan(self, spark):
        import pandas as pd

        from datasmith_spark.operators.text_analysis import lm_train_counts

        pdf = pd.DataFrame({"lang": ["en"] * 4, "text": ["hello world"] * 4})
        df = lm_train_counts(spark.createDataFrame(pdf))
        qe = df._jdf.queryExecution()
        jvm = df.sparkSession._jvm
        plan = qe.explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert plan.count("Exchange") <= 2  # one shuffle + AQE artifacts
        assert "HashAggregate" in plan


class TestLangidTrainCounts:
    """q67: distributed langid-count job == serial counts exactly; the
    assembled model predicts bit-identically to a serial-count model and
    recovers the training labels on clean text."""

    def test_spark_counts_equal_serial_and_model_predicts(self, spark):
        import pandas as pd

        from datasmith_spark.core.langid import ngram_hashes
        from datasmith_spark.core.text import LANGS, gen_sentence
        from datasmith_spark.operators.text_analysis import (
            langid_model_from_counts,
            langid_train_counts,
        )

        rng = np.random.default_rng(606)
        texts, langs = [], []
        for li, lang in enumerate(LANGS):
            for _ in range(40):
                texts.append(gen_sentence(rng, lang, 25))
                langs.append(lang)
        texts += [None, "", "   "]
        langs += [LANGS[0]] * 3
        pdf = pd.DataFrame({"lang": langs, "text": texts})

        rows = langid_train_counts(
            spark.createDataFrame(pdf).repartition(5)
        ).collect()

        serial: dict = {}
        for lang, text in zip(langs, texts):
            if not text or not text.strip():
                continue
            for b in ngram_hashes(text):
                k = (lang, int(b))
                serial[k] = serial.get(k, 0) + 1
        got = {(r["lang"], r["bucket"]): r["n"] for r in rows}
        assert got == serial

        m_dist = langid_model_from_counts(rows)
        m_serial = langid_model_from_counts(
            [{"lang": lg, "bucket": b, "n": n} for (lg, b), n in serial.items()]
        )
        # bit-identical scoring, and the model actually separates languages
        hits = 0
        eval_rng = np.random.default_rng(707)
        for lang in LANGS:
            for _ in range(10):
                t = gen_sentence(eval_rng, lang, 25)
                assert m_dist.predict_one(t) == m_serial.predict_one(t)
                hits += m_dist.predict_one(t)[0] == lang
        assert hits >= 0.9 * 10 * len(LANGS)


def test_pmi_collocations_hand(spark):
    """Hand-checkable corpus: 'new york' always adjacent (high lift),
    'the' everywhere (low lift); counts and the exact rational score."""
    from datasmith_spark.operators.text_analysis import pmi_collocations

    docs = spark.createDataFrame(
        [
            ("a", "New York! the city; the place the") ,
            ("b", "new york, the harbor the bay the"),
            ("c", "the new york the marathon the x"),
        ],
        "doc_id string, text string",
    )
    out = {
        (r.w1, r.w2): (r.c12, r.c1, r.c2, r.lift)
        for r in pmi_collocations(docs, min_count=3, k=10).collect()
    }
    # tokens/doc: 7 each -> 6 bigrams each -> N = 18
    # c(new)=3 c(york)=3 c(new,york)=3 -> lift = 18*3/(3*3) = 6.0
    assert out[("new", "york")] == (3, 3, 3, 6.0)
    # 'the x' etc below min_count are gone; every surviving pair has c12>=3
    assert all(v[0] >= 3 for v in out.values())


def test_pmi_tokenizer_strips_nonalpha_and_case(spark):
    from datasmith_spark.operators.text_analysis import pmi_collocations

    docs = spark.createDataFrame(
        [("a", "Ab-Ba!! ab:ba? AB ba")], "doc_id string, text string"
    )
    # tokens: ab ba ab ba ab ba -> bigrams (ab,ba)x3, (ba,ab)x2, N=5
    out = {
        (r.w1, r.w2): (r.c12, r.lift)
        for r in pmi_collocations(docs, min_count=2, k=10).collect()
    }
    assert out[("ab", "ba")] == (3, 5 * 3 / (3 * 3))
    assert out[("ba", "ab")] == (2, 5 * 2 / (3 * 3))


def test_registry_has_q97(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q97_pmi_collocations" in QUERIES and "q97_pmi_collocations" in ORACLE_SQL


def test_inverted_index_hand(spark):
    from datasmith_spark.operators.text_analysis import inverted_index

    docs = spark.createDataFrame(
        [(2, "b a b"), (1, "a b a"), (3, "c!c")],
        "doc_id bigint, text string",
    )
    out = {r.term: (r.df, r.tf_total, list(r.postings))
           for r in inverted_index(docs).collect()}
    assert out["a"] == (2, 3, ["1:2", "2:1"])     # sorted by doc_id
    assert out["b"] == (2, 3, ["1:1", "2:2"])
    assert out["c"] == (1, 2, ["3:2"])            # punctuation split


def test_inverted_index_shards_union_to_unsharded(spark):
    """The 2^s posting-shard hot-term defense must lose nothing: merging
    shards reproduces the unsharded index exactly."""
    from datasmith_spark.operators.text_analysis import inverted_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    flat = {r.term: (r.df, r.tf_total, sorted(r.postings))
            for r in inverted_index(docs, shard_log2=0).collect()}
    merged = {}
    for r in inverted_index(docs, shard_log2=2).collect():
        d = merged.setdefault(r.term, [0, 0, []])
        d[0] += r.df
        d[1] += r.tf_total
        d[2].extend(r.postings)
    merged = {t: (d[0], d[1], sorted(d[2])) for t, d in merged.items()}
    assert merged == flat


def test_inverted_index_max_df_drops_stopword_class(spark):
    from datasmith_spark.operators.text_analysis import inverted_index

    docs = spark.createDataFrame(
        [(i, "the zebra" if i == 0 else "the") for i in range(5)],
        "doc_id bigint, text string",
    )
    out = {r.term for r in inverted_index(docs, max_df=2).collect()}
    assert out == {"zebra"}


def test_registry_has_q98(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q98_inverted_index" in QUERIES and "q98_inverted_index" in ORACLE_SQL


def test_tfidf_top_terms_hand(spark):
    """Rarer terms outrank common ones at equal tf; k cutoff and the
    term-asc tiebreak are deterministic."""
    from datasmith_spark.operators.text_analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple zebra common"),
            (2, "common zebra"),
            (3, "common"),
        ],
        "doc_id bigint, text string",
    )
    # N=3; df: apple=1, zebra=2, common=3
    out = {(r.doc_id, r.rk): (r.term, r.score)
           for r in tfidf_top_terms(docs, k=2).collect()}
    assert out[(1, 1)] == ("apple", 2 * 3 / 1)   # tf=2, df=1
    assert out[(1, 2)] == ("zebra", 1 * 3 / 2)
    assert out[(2, 1)] == ("zebra", 1 * 3 / 2)
    assert out[(2, 2)] == ("common", 1 * 3 / 3)
    assert out[(3, 1)] == ("common", 1.0)
    assert (3, 2) not in out                      # only one term in doc 3


def test_tfidf_tiebreak_term_asc(spark):
    from datasmith_spark.operators.text_analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "b a"), (2, "a b")], "doc_id bigint, text string"
    )
    out = {(r.doc_id, r.rk): r.term for r in tfidf_top_terms(docs, k=2).collect()}
    # identical scores everywhere -> term asc decides
    assert out[(1, 1)] == "a" and out[(1, 2)] == "b"
    assert out[(2, 1)] == "a" and out[(2, 2)] == "b"


def test_registry_has_q99(spark):
    from datasmith_spark.queries import ORACLE_SQL, QUERIES

    assert "q99_tfidf_top_terms" in QUERIES and "q99_tfidf_top_terms" in ORACLE_SQL


class TestCompressibility:
    """q163: zlib compressibility quality band (core/text.compress_*)."""

    def test_kernel_bands(self):
        from datasmith_spark.core.text import compress_keep, compress_metrics

        raw, comp = compress_metrics("word " * 200)  # heavy repetition
        assert compress_keep(raw, comp) == (True, False, False)
        prose = "the quick brown fox jumps over the lazy dog near the river bank today"
        raw, comp = compress_metrics(prose)
        assert compress_keep(raw, comp) == (False, False, True)
        # deterministic symbol noise just above the floor: zlib expands it
        noise = "".join(chr(33 + ((i * i * 7 + i * 13) % 90)) for i in range(36))
        raw, comp = compress_metrics(noise)
        assert compress_keep(raw, comp) == (False, True, False)
        assert compress_metrics(None) == (0, 0)
        assert compress_keep(10, 10) == (False, False, False)  # too short

    def test_operator_matches_kernel_rowwise(self, spark):
        import pandas as pd

        from datasmith_spark.core.text import compress_keep, compress_metrics
        from datasmith_spark.operators.text_analysis import transcript_compressibility

        rows = pd.DataFrame(
            {
                "clip_id": ["a", "b", "c", "d"],
                "transcript": ["tok " * 100, "some ordinary sentence with words in it ok", None, "hi"],
            }
        )
        got = (
            transcript_compressibility(spark.createDataFrame(rows))
            .toPandas()
            .set_index("clip_id")
        )
        for cid, t in zip(rows.clip_id, rows.transcript):
            raw, comp = compress_metrics(t)
            rep, rnd, keep = compress_keep(raw, comp)
            r = got.loc[cid]
            assert (r.raw_len, r.comp_len, r.too_repetitive, r.too_random, r.keep) == (
                raw, comp, rep, rnd, keep,
            ), cid

    def test_fixture_is_honest(self):
        import sys

        import pandas as pd

        sys.path.insert(0, f"{REPO}/scripts")
        import make_compress_fixture as mcf

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_compress_n4000.parquet")
        idx = list(range(0, 4000, 37))
        fresh = mcf.oracle_rows(idx).reset_index(drop=True)
        sample = fix.iloc[idx].reset_index(drop=True)
        for c in fresh.columns:
            assert (sample[c].astype(str) == fresh[c].astype(str)).all(), c

    def test_registry_has_q163(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert (
            "q163_transcript_compressibility" in QUERIES
            and "q163_transcript_compressibility" in ORACLE_SQL
        )


class TestCodeSwitch:
    """q165: segment-level langid voting (core/langid.codeswitch_stats)."""

    def test_monolingual_not_mixed_and_plant_mixed(self):
        import numpy as np

        from datasmith_spark.core.langid import codeswitch_stats, mixed_variant
        from datasmith_spark.core.text import gen_sentence

        mono = gen_sentence(np.random.default_rng(1), "en", 40)
        st = codeswitch_stats(mono)
        assert st["lang_primary"] == "en" and not st["mixed"] and st["n_secondary"] == 0
        stm = codeswitch_stats(mixed_variant(mono, "any-id"))
        assert stm["mixed"] and stm["lang_secondary"] is not None
        # determinism
        assert mixed_variant(mono, "any-id") == mixed_variant(mono, "any-id")
        assert mixed_variant(mono, "other") != mixed_variant(mono, "any-id")

    def test_blank_and_short_edges(self):
        from datasmith_spark.core.langid import codeswitch_stats

        assert codeswitch_stats(None)["n_windows"] == 0
        assert codeswitch_stats("   ")["n_windows"] == 0
        st = codeswitch_stats("hello world")
        assert st["n_windows"] == 1 and not st["mixed"]

    def test_operator_arbitrary_ids(self, spark):
        import numpy as np
        import pandas as pd

        from datasmith_spark.core.langid import mixed_variant
        from datasmith_spark.core.text import gen_sentence
        from datasmith_spark.operators.text_analysis import codeswitch_clips

        mono = gen_sentence(np.random.default_rng(2), "fr", 30)
        rows = pd.DataFrame(
            {
                "clip_id": ["s3://x/a b.wav", "uuid-77", "blank"],
                "transcript": [mono, mixed_variant(mono, "uuid-77"), None],
            }
        )
        got = codeswitch_clips(spark.createDataFrame(rows)).toPandas().set_index("clip_id")
        assert not got.loc["s3://x/a b.wav"].mixed
        assert got.loc["uuid-77"].mixed
        assert got.loc["blank"].n_windows == 0

    def test_fixture_is_honest(self):
        import sys

        import pandas as pd

        sys.path.insert(0, f"{REPO}/scripts")
        import make_codeswitch_fixture as mcs

        fix = pd.read_parquet(f"{REPO}/fixtures/oracle_codeswitch_n4000.parquet")
        lo, hi = 960, 1160
        fresh = mcs.oracle_rows(range(lo, hi)).reset_index(drop=True)
        ids = {f"clip_{i:012d}" for i in range(lo, hi)} | {
            f"mx_{i:012d}" for i in range(lo, hi)
        }
        sample = fix[fix.clip_id.isin(ids)].reset_index(drop=True)
        assert len(sample) == len(fresh) > 0
        for c in fresh.columns:
            assert (sample[c].astype(str) == fresh[c].astype(str)).all(), c

    def test_registry_has_q165(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert (
            "q165_codeswitch_transcripts" in QUERIES
            and "q165_codeswitch_transcripts" in ORACLE_SQL
        )


class TestHomoglyphAudit:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_mixed_word_flagged_whole_word_switch_not(self, spark):
        from datasmith_spark.operators.text_analysis import homoglyph_audit

        rows = [
            (1, "pure latin words only"),
            (2, "чисто русские слова"),          # all-Cyrillic: not mixed
            (3, "hello мир plain switch"),        # word-level switch: not mixed
            (4, "pаypаl login here"),   # Cyrillic а inside latin word
            (5, ""),
            (6, None),
        ]
        out = {r.doc_key: r for r in homoglyph_audit(self._docs(spark, rows)).collect()}
        assert not out["doc_1"].suspect and out["doc_1"].n_cyr == 0
        assert not out["doc_2"].suspect and out["doc_2"].n_cyr == 3
        assert not out["doc_3"].suspect and out["doc_3"].n_cyr == 1
        assert out["doc_4"].suspect and out["doc_4"].n_mixed == 1
        assert out["doc_5"].n_words == 0 and not out["doc_5"].suspect
        assert out["doc_6"].n_words == 0 and not out["doc_6"].suspect

    def test_plants_and_determinism(self, spark):
        from datasmith_spark.operators.text_analysis import homoglyph_audit

        rows = [(i, f"data scan merge row {i}") for i in range(0, 120)]
        out = homoglyph_audit(self._docs(spark, rows), plant_every=40).toPandas()
        plants = out[out.doc_key.str.startswith("ho_")]
        base = out[out.doc_key.str.startswith("doc_")]
        assert len(plants) == 3 and plants.suspect.all()
        assert not base.suspect.any()
        # translate is total: every Cyrillic-containing plant word counted
        assert (plants.n_cyr >= plants.n_mixed).all()

    def test_confusable_pairs_are_aligned(self):
        from datasmith_spark.operators.text_analysis import (
            HOMOGLYPH_CYRILLIC,
            HOMOGLYPH_LATIN,
        )

        assert len(HOMOGLYPH_LATIN) == len(HOMOGLYPH_CYRILLIC) == 12
        for lat, cyr in zip(HOMOGLYPH_LATIN, HOMOGLYPH_CYRILLIC):
            assert 0x0400 <= ord(cyr) <= 0x04FF and ord(lat) < 128
            assert lat.isupper() == cyr.isupper()

    def test_registry_has_q169(self):
        from datasmith_spark.queries import ORACLE_SQL, QUERIES

        assert "q169_homoglyph_audit" in QUERIES and "q169_homoglyph_audit" in ORACLE_SQL
