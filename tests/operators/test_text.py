"""Text-analysis operator tests."""

import pytest
from pyspark.sql import functions as F

from ons_utils_spark.operators.text import (
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
    tokenize,
    word_shingles,
)


def _one(spark, text, expr):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(expr.alias("v")).collect()[0]["v"]


class TestTokenize:
    def test_lowercases_and_splits(self, spark):
        assert _one(spark, "The  Cat sat", tokenize("text")) == ["the", "cat", "sat"]

    def test_blank_gives_empty(self, spark):
        assert _one(spark, "   ", tokenize("text")) == []


class TestWordShingles:
    def test_trigrams(self, spark):
        assert _one(spark, "a b c d", word_shingles("text", 3)) == [
            "a b c",
            "b c d",
        ]

    def test_short_doc_empty(self, spark):
        assert _one(spark, "a b", word_shingles("text", 3)) == []

    def test_distinct_dedups(self, spark):
        out = _one(spark, "x y x y x y", word_shingles("text", 2))
        assert sorted(out) == ["x y", "y x"]

    def test_non_distinct_keeps_order(self, spark):
        out = _one(spark, "x y x", word_shingles("text", 2, distinct=False))
        assert out == ["x y", "y x"]


class TestTokenCount:
    def test_whitespace(self, spark):
        assert _one(spark, "one two  three", token_count("text")) == 3

    def test_bpe_counts_punctuation(self, spark):
        # "don't stop!" → don / ' / t / stop / !
        assert _one(spark, "don't stop!", token_count("text", "bpe")) == 5

    def test_unknown_mode_raises(self):
        with pytest.raises(ValueError, match="unknown token_count mode"):
            token_count("text", "words")


class TestLanguageId:
    @pytest.mark.parametrize(
        "text,expected",
        [
            ("the cat is in the house and it is warm", "en"),
            ("der hund ist nicht mit der katze", "de"),
            ("le chat est dans la maison pour les amis", "fr"),
            ("el gato es un animal que vive por aquí", "es"),
            ("你好世界你好世界", "zh"),
            ("zzz qqq www", "und"),
        ],
    )
    def test_detects(self, spark, text, expected):
        assert _one(spark, text, language_id("text")) == expected


class TestQualityScore:
    def test_good_prose_scores_high(self, spark):
        text = "the quick brown fox jumps over the lazy dog and it is happy"
        assert _one(spark, text, quality_score("text")) == 1.0

    def test_garbage_scores_low(self, spark):
        assert _one(spark, "!!! ??? !!!", quality_score("text")) <= 0.25

    def test_bounded(self, spark):
        for text in ["", "x", "a b c d e f g h"]:
            v = _one(spark, text, quality_score("text"))
            assert 0.0 <= v <= 1.0


class TestGopherQualityFlags:
    def test_good_prose_passes(self, spark):
        from ons_utils_spark.operators.text import gopher_quality_flags

        text = " ".join(
            ["the quick brown fox jumps over the lazy dog and it is happy"] * 5
        )  # 65 words, prose-like
        df = spark.createDataFrame([(text,)], "text string")
        row = df.select(
            gopher_quality_flags("text").alias("q")
        ).select("q.*").first()
        assert row["passes"] and row["n_words"] == 65
        assert row["word_count_ok"] and row["stopword_ok"]

    def test_short_doc_fails_word_count_only(self, spark):
        from ons_utils_spark.operators.text import gopher_quality_flags

        df = spark.createDataFrame([("the cat is in the house",)], "text string")
        row = df.select(
            gopher_quality_flags("text").alias("q")
        ).select("q.*").first()
        assert not row["word_count_ok"] and not row["passes"]
        assert row["stopword_ok"]  # 'the', 'is', 'in' present

    def test_symbol_soup_fails_symbol_and_alpha(self, spark):
        from ons_utils_spark.operators.text import gopher_quality_flags

        df = spark.createDataFrame([("# # # ... # 123 456",)], "text string")
        row = df.select(
            gopher_quality_flags("text").alias("q")
        ).select("q.*").first()
        assert not row["symbol_ok"] and not row["alpha_ok"]

    def test_empty_doc_fails_all_gates_without_nulls(self, spark):
        from ons_utils_spark.operators.text import gopher_quality_flags

        df = spark.createDataFrame([("",)], "text string")
        row = df.select(
            gopher_quality_flags("text").alias("q")
        ).select("q.*").first()
        assert row["passes"] is False and row["n_words"] == 0


class TestTokenEntropy:
    def test_uniform_vs_repetitive(self, spark):
        import math

        from ons_utils_spark.operators.text import token_entropy

        df = spark.createDataFrame(
            [
                (1, "a b c d"),            # uniform: H = log2(4) = 2
                (2, "a a a a"),            # single type: H = 0
                (3, "a a b b"),            # H = 1
            ],
            "doc_id bigint, text string",
        )
        out = {r["id"]: r for r in token_entropy(df, "doc_id", "text").collect()}
        assert out[1]["entropy"] == 2.0 and out[1]["norm_entropy"] == 1.0
        assert out[2]["entropy"] == 0.0 and out[2]["norm_entropy"] == 1.0
        assert out[3]["entropy"] == 1.0 and out[3]["norm_entropy"] == 1.0
        assert out[1]["n_tokens"] == 4 and out[1]["n_distinct"] == 4

    def test_skewed_distribution_value(self, spark):
        import math

        from ons_utils_spark.operators.text import token_entropy

        # 3 of 'a', 1 of 'b': H = log2(4) - (3*log2(3))/4
        df = spark.createDataFrame([(1, "a a a b")], "doc_id bigint, text string")
        row = token_entropy(df, "doc_id", "text").first()
        expected = round(2.0 - 3 * math.log2(3) / 4, 6)
        assert row["entropy"] == expected
        assert row["norm_entropy"] == round(expected / 1.0, 6)

    def test_empty_docs_produce_no_rows(self, spark):
        from ons_utils_spark.operators.text import token_entropy

        df = spark.createDataFrame(
            [(1, ""), (2, "hello world")], "doc_id bigint, text string"
        )
        assert {r["id"] for r in token_entropy(df, "doc_id", "text").collect()} == {2}


class TestBigramLogprob:
    def test_repeated_text_scores_zero(self, spark):
        from ons_utils_spark.operators.text import bigram_logprob

        # Two identical docs: every bigram's context is fully predictable
        # within this corpus... only if each context word precedes exactly
        # one follower. "a b c a b" has context 'a'->{b,b}, 'b'->{c}(+end)
        df = spark.createDataFrame(
            [(1, "x y z"), (2, "x y z")], "doc_id bigint, text string"
        )
        out = {r["id"]: r for r in bigram_logprob(df, "doc_id", "text").collect()}
        # Corpus: C(x,y)=2, C(x)=2; C(y,z)=2, C(y)=2 → all lp = ln(1) = 0.
        assert out[1]["mean_logprob"] == 0.0 and out[1]["n_bigrams"] == 2

    def test_rare_continuation_scores_negative(self, spark):
        import math

        from ons_utils_spark.operators.text import bigram_logprob

        # 'a' precedes 'b' three times and 'z' once → lp(a,z) = ln(1/4).
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a z")],
            "doc_id bigint, text string",
        )
        out = {r["id"]: r for r in bigram_logprob(df, "doc_id", "text").collect()}
        assert out[4]["mean_logprob"] == round(math.log(0.25), 6)
        assert out[1]["mean_logprob"] == round(math.log(0.75), 6)

    def test_short_docs_produce_no_rows(self, spark):
        from ons_utils_spark.operators.text import bigram_logprob

        df = spark.createDataFrame(
            [(1, "solo"), (2, ""), (3, "two words")], "doc_id bigint, text string"
        )
        assert {r["id"] for r in bigram_logprob(df, "doc_id", "text").collect()} == {3}


class TestDocFingerprint:
    def test_whitespace_and_case_insensitive(self, spark):
        df = spark.createDataFrame(
            [("Hello   World",), ("hello world",)], "text string"
        )
        prints = [r["fp"] for r in df.select(doc_fingerprint("text").alias("fp")).collect()]
        assert prints[0] == prints[1]

    def test_content_sensitive(self, spark):
        df = spark.createDataFrame([("a b",), ("a c",)], "text string")
        prints = [r["fp"] for r in df.select(doc_fingerprint("text").alias("fp")).collect()]
        assert prints[0] != prints[1]


class TestStaysJvmSide:
    def test_no_python_workers(self, spark):
        df = spark.createDataFrame([("some text here",)], "text string")
        plan = (
            df.select(
                tokenize("text"),
                word_shingles("text"),
                token_count("text", "bpe"),
                language_id("text"),
                quality_score("text"),
                doc_fingerprint("text"),
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Python" not in plan


class TestWinnowFingerprints:
    def test_shared_run_guarantee(self, spark):
        from ons_utils_spark.operators.text import winnow_fingerprints

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        other = "one two three " + base + " four five six"
        df = spark.createDataFrame([(1, base), (2, other)], "id bigint, text string")
        fps = {
            r["id"]: set(r["fp"])
            for r in df.select("id", winnow_fingerprints("text", k=3, w=2).alias("fp")).collect()
        }
        # The 10-token base run is >= w+k-1 = 4 tokens: at least one shared print.
        assert fps[1] & fps[2]

    def test_short_doc_falls_back_to_min(self, spark):
        from ons_utils_spark.operators.text import winnow_fingerprints

        df = spark.createDataFrame([("a b c",)], "text string")
        out = df.select(winnow_fingerprints("text", k=3, w=4).alias("fp")).collect()[0]["fp"]
        assert len(out) == 1

    def test_deterministic(self, spark):
        from ons_utils_spark.operators.text import winnow_fingerprints

        df = spark.createDataFrame([("the quick brown fox jumps over dogs",)], "text string")
        a = df.select(winnow_fingerprints("text").alias("fp")).collect()
        b = df.select(winnow_fingerprints("text").alias("fp")).collect()
        assert a == b


class TestTfidf:
    def test_scores_and_shape(self, spark):
        from ons_utils_spark.operators.text import tfidf_terms

        docs = spark.createDataFrame(
            [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry date")],
            "doc_id bigint, text string",
        )
        rows = {
            (r["id"], r["term"]): (r["tf"], r["df"], r["tfidf"])
            for r in tfidf_terms(docs, "doc_id", "text").collect()
        }
        import math

        # apple: tf=2 in doc 1, df=1 of 3 docs.
        assert rows[(1, "apple")][0] == 2 and rows[(1, "apple")][1] == 1
        assert rows[(1, "apple")][2] == round(2 * math.log(3 / 1), 6)
        # banana appears in 2 docs → lower idf than apple.
        assert rows[(1, "banana")][2] < rows[(1, "apple")][2]

    def test_ubiquitous_term_scores_zero(self, spark):
        from ons_utils_spark.operators.text import tfidf_terms

        docs = spark.createDataFrame(
            [(1, "the cat"), (2, "the dog")], "doc_id bigint, text string"
        )
        rows = {
            (r["id"], r["term"]): r["tfidf"]
            for r in tfidf_terms(docs, "doc_id", "text").collect()
        }
        assert rows[(1, "the")] == 0.0  # ln(2/2) = 0


class TestShingleReferenceEquivalence:
    def test_random_texts_match_python_reference(self, spark):
        """The zip-shift shingle construction must equal the naive
        definition on arbitrary inputs (whitespace runs, unicode, empties,
        short docs)."""
        import random

        rng = random.Random(1234)
        vocab = ["a", "bb", "ccc", "Ωmega", "naïve", "x1", "", "Z"]
        texts = []
        for _ in range(60):
            k = rng.randrange(0, 12)
            texts.append(
                (" " * rng.randrange(0, 3)).join(
                    rng.choice(vocab) for _ in range(k)
                )
            )
        texts += ["", "   ", "\tone\ntwo  three\t", "solo"]

        def py_tokenize(t):
            return [w for w in t.lower().split() if w]

        def py_shingles(t, n, distinct):
            toks = py_tokenize(t)
            grams = [
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            ]
            if distinct:
                seen, out = set(), []
                for g in grams:
                    if g not in seen:
                        seen.add(g)
                        out.append(g)
                return out
            return grams

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i bigint, text string"
        )
        for n in (1, 2, 3, 5):
            for distinct in (True, False):
                got = {
                    r["i"]: r["s"]
                    for r in df.select(
                        "i", word_shingles("text", n, distinct=distinct).alias("s")
                    ).collect()
                }
                for i, t in enumerate(texts):
                    assert got[i] == py_shingles(t, n, distinct), (
                        f"n={n} distinct={distinct} text={t!r}"
                    )


class TestShingleVectorPath:
    """The Arrow-vectorized shingle chain (r13, default for n >= 2) must
    be bit-identical to the pure-expression zip-shift form it replaces —
    values, ARRAY ORDER (positional consumers posexplode it), and
    array_distinct's first-occurrence order."""

    TEXTS = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "one two"),
        (5, "a b c d e f g"),
        (6, "x x x x x"),
        (7, "a b a b a b a b"),
        (8, "\tone\ntwo  three\t four five six seven"),
        (9, "Ωmega naïve Z Ωmega naïve Z Ωmega"),
    ]

    def test_vector_bit_identical_to_expr(self, spark):
        from ons_utils_spark.operators.text import (
            _shingle_hash64_expr, shingle_hash64,
        )

        df = spark.createDataFrame(self.TEXTS, "id bigint, text string")
        for n in (2, 3, 4, 8):
            for distinct in (True, False):
                vec = {
                    r["id"]: list(r["g"])
                    for r in df.select(
                        "id",
                        shingle_hash64(
                            "text", n=n, distinct=distinct,
                            method="vector",
                        ).alias("g"),
                    ).collect()
                }
                expr = {
                    r["id"]: list(r["g"])
                    for r in df.select(
                        "id",
                        shingle_hash64(
                            "text", n=n, distinct=distinct, method="expr"
                        ).alias("g"),
                    ).collect()
                }
                assert vec == expr, (n, distinct)

    def test_column_input_and_auto_routing(self, spark):
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.text import (
            _shingle_hash64_expr, shingle_hash64,
        )

        df = spark.createDataFrame(self.TEXTS, "id bigint, text string")
        # Column (non-string) input takes the Column token-hash builder.
        vec = df.select(
            "id", shingle_hash64(F.col("text"), n=3).alias("g")
        ).collect()
        expr = df.select(
            "id", _shingle_hash64_expr(F.col("text"), n=3).alias("g")
        ).collect()
        assert [(r["id"], list(r["g"])) for r in vec] == [
            (r["id"], list(r["g"])) for r in expr
        ]
        # n=1 has no chain to vectorize: auto stays pure-expression
        # (no Python eval node in the plan).
        plan = df.select(
            shingle_hash64("text", n=1).alias("g")
        )._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan

    def test_hashlong_vec_matches_scalar_replay(self):
        import numpy as np

        from ons_utils_spark.operators.corpus import _xxh64_long_py
        from ons_utils_spark.operators.text import _hashlong_vec

        vals = np.array(
            [0, 1, -1, 42, 2**63 - 1, -(2**63), 123456789123456789],
            dtype=np.int64,
        ).view(np.uint64)
        seeds = np.array(
            [42, 0, -(2**63), 2**62 + 3, 7, 9, -5], dtype=np.int64
        ).view(np.uint64)
        got = _hashlong_vec(vals, seeds).view(np.int64)
        for i in range(len(vals)):
            want = _xxh64_long_py(
                int(vals[i]), int(seeds[i]) & ((1 << 64) - 1)
            )
            want = want - (1 << 64) if want >= 1 << 63 else want
            assert int(got[i]) == want, i


class TestGopherLineFlags:
    def test_bullet_and_ellipsis_ratios(self, spark):
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.text import gopher_line_flags

        doc = "\n".join(
            ["- item one", "- item two", "- item three", "a normal line..."]
        )
        row = (
            spark.createDataFrame([(doc,)], "text string")
            .select(gopher_line_flags("text").alias("f"))
            .select("f.*")
            .collect()[0]
        )
        assert row["n_lines"] == 4
        assert row["bullet_ratio"] == 0.75
        assert row["ellipsis_ratio"] == 0.25
        assert row["passes"]  # 0.75 <= 0.9 and 0.25 <= 0.3

    def test_bullet_boilerplate_fails(self, spark):
        from ons_utils_spark.operators.text import gopher_line_flags

        doc = "\n".join(["- a", "- b", "- c", "- d", "- e"])
        row = (
            spark.createDataFrame([(doc,)], "text string")
            .select(gopher_line_flags("text").alias("f"))
            .select("f.*")
            .collect()[0]
        )
        assert row["bullet_ratio"] == 1.0 and not row["passes"]

    def test_single_line_doc(self, spark):
        from ons_utils_spark.operators.text import gopher_line_flags

        row = (
            spark.createDataFrame([("no newlines here",)], "text string")
            .select(gopher_line_flags("text").alias("f"))
            .select("f.*")
            .collect()[0]
        )
        assert row["n_lines"] == 1 and row["passes"]


class TestC4LineClean:
    def _df(self, spark):
        doc = "\n".join(
            [
                "This line is long enough and ends properly.",
                "short.",                                # < min_words
                "No terminal punctuation on this line",  # no punct
                "Enable javascript to view this page.",  # banned
                'He said "stop right there."',           # quote-terminal OK
                "",                                      # blank dropped
            ]
        )
        return spark.createDataFrame(
            [(1, doc), (2, "all lines fail here")],
            "doc_id bigint, text string",
        )

    def test_rules_apply_per_line(self, spark):
        from ons_utils_spark.operators.text import c4_line_clean

        out = {
            r["doc_id"]: r
            for r in c4_line_clean(
                self._df(spark), "doc_id", "text", min_words=3
            ).collect()
        }
        assert out[1]["text"] == (
            "This line is long enough and ends properly.\n"
            'He said "stop right there."'
        )
        assert (out[1]["n_lines"], out[1]["n_kept"]) == (5, 2)
        assert 2 not in out  # all lines fail -> doc dropped

    def test_min_lines_zero_keeps_empty_docs(self, spark):
        from ons_utils_spark.operators.text import c4_line_clean

        out = {
            r["doc_id"]: r
            for r in c4_line_clean(
                self._df(spark), "doc_id", "text", min_words=3, min_lines=0
            ).collect()
        }
        assert out[2]["text"] == "" and out[2]["n_kept"] == 0

    def test_punct_requirement_can_relax(self, spark):
        from ons_utils_spark.operators.text import c4_line_clean

        out = {
            r["doc_id"]: r
            for r in c4_line_clean(
                self._df(spark), "doc_id", "text",
                min_words=3, require_terminal_punct=False,
            ).collect()
        }
        assert out[1]["n_kept"] == 3  # the no-punct line survives

    def test_stays_jvm_side(self, spark):
        from ons_utils_spark.operators.text import c4_line_clean

        plan = (
            c4_line_clean(self._df(spark), "doc_id", "text")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Python" not in plan and "Generate" not in plan


class TestC4PageLevelRules:
    def test_banned_doc_drops_whole_page(self, spark):
        """C4's 'lorem ipsum' and curly-brace detectors are PAGE
        filters: a code page must not survive as its brace-free lines."""
        from ons_utils_spark.operators.text import c4_line_clean

        code_page = "\n".join(
            [
                "function init() {",
                "var banner = document.getElementById('x');",
                "return banner.show();",
            ]
        )
        clean_page = "A perfectly ordinary sentence lives here."
        df = spark.createDataFrame(
            [(1, code_page), (2, clean_page)], "doc_id bigint, text string"
        )
        out = {
            r["doc_id"]
            for r in c4_line_clean(
                df, "doc_id", "text", min_words=3
            ).collect()
        }
        assert out == {2}  # page 1 gone entirely, brace-free lines included

    def test_null_text_counts_as_empty_doc(self, spark):
        from ons_utils_spark.operators.text import c4_line_clean

        df = spark.createDataFrame(
            [(1, None), (2, "Still a good sentence here.")],
            "doc_id bigint, text string",
        )
        out = {
            r["doc_id"]: r
            for r in c4_line_clean(
                df, "doc_id", "text", min_words=3, min_lines=0
            ).collect()
        }
        assert out[1]["text"] == "" and out[1]["n_kept"] == 0
        assert out[2]["n_kept"] == 1

    def test_gopher_line_flags_null_text(self, spark):
        from ons_utils_spark.operators.text import gopher_line_flags

        row = (
            spark.createDataFrame([(None,)], "text string")
            .select(gopher_line_flags("text").alias("f"))
            .select("f.*")
            .collect()[0]
        )
        assert row["n_lines"] == 0 and row["passes"]


class TestBm25:
    """bm25_scores / bm25_topk — Okapi BM25 retrieval semantics."""

    def _corpus(self, spark):
        docs = [
            (1, "spark spark spark spark spark engine"),   # tf saturation
            (2, "spark engine"),                           # short doc
            (3, "a very long document about nothing at all " * 5
                + "spark"),                                # long doc, tf=1
            (4, "rareword appears here once"),             # rare term
            (5, "filler tokens with no query words"),
        ]
        return spark.createDataFrame(docs, "doc_id bigint, text string")

    def test_matching_docs_only_and_ordering(self, spark):
        from ons_utils_spark.operators.text import bm25_scores

        df = self._corpus(spark)
        rows = {r["id"]: r["bm25"]
                for r in bm25_scores(df, "doc_id", "text", ["spark"]).collect()}
        assert set(rows) == {1, 2, 3}
        # tf grows the score but sub-linearly; length normalization
        # penalizes the long doc at equal tf
        assert rows[1] > rows[2] > rows[3]
        assert rows[1] < 5 * rows[3]  # saturation: 5x tf != 5x score

    def test_rare_term_outweighs_common(self, spark):
        from ons_utils_spark.operators.text import bm25_scores

        df = self._corpus(spark)
        rows = {r["id"]: r["bm25"]
                for r in bm25_scores(
                    df, "doc_id", "text", ["spark", "rareword"]
                ).collect()}
        # doc 4 matches only the rarer term (df=1 vs df=3) once; doc 2
        # matches the common term once in a comparably short doc
        assert rows[4] > rows[2]

    def test_multi_term_is_sum_of_single_terms(self, spark):
        from ons_utils_spark.operators.text import bm25_scores

        df = self._corpus(spark)
        both = {r["id"]: r["bm25"]
                for r in bm25_scores(
                    df, "doc_id", "text", ["spark", "rareword"]
                ).collect()}
        s1 = {r["id"]: r["bm25"]
              for r in bm25_scores(df, "doc_id", "text", ["spark"]).collect()}
        s2 = {r["id"]: r["bm25"]
              for r in bm25_scores(
                  df, "doc_id", "text", ["rareword"]
              ).collect()}
        for i, v in both.items():
            assert abs(v - (s1.get(i, 0.0) + s2.get(i, 0.0))) < 1e-5

    def test_partitioning_invariant(self, spark):
        from ons_utils_spark.operators.text import bm25_topk

        df = self._corpus(spark)
        a = bm25_topk(df.coalesce(1), "doc_id", "text",
                      ["spark", "rareword"]).collect()
        b = bm25_topk(df.repartition(7), "doc_id", "text",
                      ["spark", "rareword"]).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_query_casefold_and_dedupe(self, spark):
        from ons_utils_spark.operators.text import bm25_scores

        df = self._corpus(spark)
        plain = {r["id"]: r["bm25"]
                 for r in bm25_scores(df, "doc_id", "text",
                                      ["spark"]).collect()}
        fancy = {r["id"]: r["bm25"]
                 for r in bm25_scores(df, "doc_id", "text",
                                      ["SPARK", "Spark", "spark"]).collect()}
        assert plain == fancy

    def test_empty_query_raises(self, spark):
        import pytest

        from ons_utils_spark.operators.text import bm25_scores

        with pytest.raises(ValueError, match="at least one term"):
            bm25_scores(self._corpus(spark), "doc_id", "text", [])


class TestBm25Batch:
    def _corpus(self, spark):
        docs = [
            (1, "spark spark spark spark spark engine"),
            (2, "spark engine"),
            (3, "a very long document about nothing at all " * 5
                + "spark"),
            (4, "rareword appears here once"),
            (5, "filler tokens with no query words"),
        ]
        return spark.createDataFrame(docs, "doc_id bigint, text string")

    def test_batch_matches_per_query_singles(self, spark):
        from ons_utils_spark.operators.text import (
            bm25_batch_topk,
            bm25_topk,
        )

        df = self._corpus(spark)
        queries = spark.createDataFrame(
            [(10, ["spark"]), (20, ["rareword", "engine"])],
            "query_id bigint, terms array<string>",
        )
        batch = bm25_batch_topk(df, "doc_id", "text", queries, topk=5)
        got = {}
        for r in batch.collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["id"], r["bm25"])
            )
        for qid, terms in ((10, ["spark"]), (20, ["rareword", "engine"])):
            single = bm25_topk(df, "doc_id", "text", terms, topk=5).collect()
            want = [
                (i + 1, r["id"]) for i, r in enumerate(single)
            ]
            have = [(rk, i) for rk, i, _ in sorted(got[qid])]
            assert have == want
            # scores agree (decimal-exact sum vs fixed-order adds — same
            # value after rounding, modulo a last-ulp boundary)
            by_id = {r["id"]: r["bm25"] for r in single}
            for _, i, s in got[qid]:
                assert abs(s - by_id[i]) < 2e-6

    def test_rank_is_per_query_and_capped(self, spark):
        from ons_utils_spark.operators.text import bm25_batch_topk

        df = self._corpus(spark)
        queries = spark.createDataFrame(
            [(1, ["spark"]), (2, ["spark", "rareword"])],
            "query_id bigint, terms array<string>",
        )
        rows = bm25_batch_topk(
            df, "doc_id", "text", queries, topk=2
        ).collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r["rank"])
        assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 2
                   for v in per_q.values())
        assert set(per_q) == {1, 2}

    def test_null_or_empty_terms_raise(self, spark):
        # Contract parity with bm25_scores: a NULL/empty terms array
        # would silently vanish in the explode ("no matches" masking a
        # malformed query table) — must raise up front instead.
        import pytest

        from ons_utils_spark.operators.text import bm25_batch_topk

        df = self._corpus(spark)
        for bad_terms in (None, []):
            queries = spark.createDataFrame(
                [(1, ["spark"]), (2, bad_terms)],
                "query_id bigint, terms array<string>",
            )
            with pytest.raises(ValueError, match="NULL or empty"):
                bm25_batch_topk(df, "doc_id", "text", queries, topk=2)

    def test_null_term_element_raises(self, spark):
        # A NULL element inside a terms array would silently drop in
        # the term equi-joins (lower(NULL) is NULL) — must raise like
        # the single-query form does for None.
        import pytest

        from ons_utils_spark.operators.text import (
            bm25_batch_topk,
            bm25_scores,
        )

        df = self._corpus(spark)
        queries = spark.createDataFrame(
            [(1, ["spark", None])],
            "query_id bigint, terms array<string>",
        )
        with pytest.raises(ValueError, match="NULL"):
            bm25_batch_topk(df, "doc_id", "text", queries, topk=2)
        with pytest.raises(ValueError, match="None"):
            bm25_scores(df, "doc_id", "text", ["spark", None])


class TestBm25Index:
    """Durable inverted index: indexed scores must be BIT-identical to
    the corpus-scan form, through a save/load round trip."""

    def _corpus(self, spark):
        docs = [
            (1, "spark spark spark spark spark engine"),
            (2, "spark engine"),
            (3, "a very long document about nothing at all " * 5
                + "spark"),
            (4, "rareword appears here once"),
            (5, "filler tokens with no query words"),
            (6, None),
            (7, ""),
        ]
        return spark.createDataFrame(docs, "doc_id bigint, text string")

    def test_indexed_equals_scan_bit_identical(self, spark):
        from ons_utils_spark.operators.text import (
            bm25_index_build,
            bm25_topk,
            bm25_topk_indexed,
        )

        df = self._corpus(spark)
        postings, stats = bm25_index_build(df, "doc_id", "text")
        for terms in (["spark"], ["rareword", "engine", "SPARK"]):
            direct = bm25_topk(df, "doc_id", "text", terms, topk=5)
            indexed = bm25_topk_indexed(postings, stats, terms, topk=5)
            assert [tuple(r) for r in indexed.collect()] == [
                tuple(r) for r in direct.collect()
            ]

    def test_save_load_round_trip(self, spark, tmp_path):
        from ons_utils_spark.operators.text import (
            bm25_index_build,
            bm25_topk,
            bm25_topk_indexed,
            load_bm25_index,
            save_bm25_index,
        )

        df = self._corpus(spark)
        postings, stats = bm25_index_build(df, "doc_id", "text")
        path = str(tmp_path / "bm25")
        save_bm25_index(postings, stats, path)
        lp, ls = load_bm25_index(spark, path)
        direct = bm25_topk(
            df, "doc_id", "text", ["spark", "engine"], topk=5
        ).collect()
        served = bm25_topk_indexed(
            lp, ls, ["spark", "engine"], topk=5
        ).collect()
        assert [tuple(r) for r in served] == [tuple(r) for r in direct]

    def test_wide_profile_semi_join_path_matches(self, spark):
        from ons_utils_spark.operators import text as T

        df = self._corpus(spark)
        postings, stats = T.bm25_index_build(df, "doc_id", "text")
        terms = ["spark", "engine", "rareword"]
        narrow = T.bm25_topk_indexed(postings, stats, terms, topk=5)
        # Force the broadcast-semi-join branch with a tiny threshold.
        orig = T._BM25_INDEX_ISIN_MAX
        T._BM25_INDEX_ISIN_MAX = 1
        try:
            wide = T.bm25_topk_indexed(postings, stats, terms, topk=5)
        finally:
            T._BM25_INDEX_ISIN_MAX = orig
        assert [tuple(r) for r in wide.collect()] == [
            tuple(r) for r in narrow.collect()
        ]

    def test_torn_stats_raises(self, spark, tmp_path):
        import pytest

        from ons_utils_spark.operators.text import (
            bm25_index_build,
            load_bm25_index,
            save_bm25_index,
        )

        df = self._corpus(spark)
        postings, stats = bm25_index_build(df, "doc_id", "text")
        path = str(tmp_path / "bm25")
        save_bm25_index(postings, stats, path)
        stats.unionAll(stats).coalesce(1).write.mode("overwrite").parquet(
            f"{path}/stats"
        )
        with pytest.raises(ValueError, match="expected exactly 1"):
            load_bm25_index(spark, path)

    def test_empty_and_none_terms_raise(self, spark):
        import pytest

        from ons_utils_spark.operators.text import (
            bm25_index_build,
            bm25_scores_indexed,
        )

        df = self._corpus(spark)
        postings, stats = bm25_index_build(df, "doc_id", "text")
        with pytest.raises(ValueError, match="at least one term"):
            bm25_scores_indexed(postings, stats, [])
        with pytest.raises(ValueError, match="None"):
            bm25_scores_indexed(postings, stats, ["spark", None])


class TestBm25BatchIndexed:
    def _corpus(self, spark):
        docs = [
            (1, "spark spark spark spark spark engine"),
            (2, "spark engine"),
            (3, "a very long document about nothing at all " * 5
                + "spark"),
            (4, "rareword appears here once"),
            (5, "filler tokens with no query words"),
        ]
        return spark.createDataFrame(docs, "doc_id bigint, text string")

    def test_batch_indexed_equals_batch_scan(self, spark):
        from ons_utils_spark.operators.text import (
            bm25_batch_topk,
            bm25_batch_topk_indexed,
            bm25_index_build,
        )

        df = self._corpus(spark)
        postings, stats = bm25_index_build(df, "doc_id", "text")
        queries = spark.createDataFrame(
            [(10, ["spark"]), (20, ["rareword", "engine"])],
            "query_id bigint, terms array<string>",
        )
        scan = bm25_batch_topk(df, "doc_id", "text", queries, topk=5)
        idx = bm25_batch_topk_indexed(postings, stats, queries, topk=5)
        key = lambda t: (t[0], t[3])  # noqa: E731 — (query_id, rank)
        assert sorted(map(tuple, idx.collect()), key=key) == sorted(
            map(tuple, scan.collect()), key=key
        )

    def test_batch_indexed_validates_queries(self, spark):
        import pytest

        from ons_utils_spark.operators.text import (
            bm25_batch_topk_indexed,
            bm25_index_build,
        )

        df = self._corpus(spark)
        postings, stats = bm25_index_build(df, "doc_id", "text")
        queries = spark.createDataFrame(
            [(1, ["spark"]), (2, [None])],
            "query_id bigint, terms array<string>",
        )
        with pytest.raises(ValueError, match="NULL"):
            bm25_batch_topk_indexed(postings, stats, queries, topk=2)


class TestBm25IncrementalIndex:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_appends_equal_one_shot_build(self, spark, tmp_path):
        from ons_utils_spark.operators.text import (
            bm25_index_append,
            bm25_index_build,
            bm25_topk_indexed,
            load_bm25_index_incremental,
        )

        b1 = [(1, "spark spark engine"), (2, "rareword here")]
        b2 = [(3, "spark and filler words"), (4, "engine spark engine")]
        store = str(tmp_path / "bm25inc")
        bm25_index_append(self._docs(spark, b1), "doc_id", "text", store)
        bm25_index_append(self._docs(spark, b2), "doc_id", "text", store)
        postings, stats = load_bm25_index_incremental(spark, store)
        whole_p, whole_s = bm25_index_build(
            self._docs(spark, b1 + b2), "doc_id", "text"
        )
        terms = ["spark", "rareword"]
        inc = bm25_topk_indexed(postings, stats, terms, topk=4).collect()
        one = bm25_topk_indexed(whole_p, whole_s, terms, topk=4).collect()
        assert [tuple(r) for r in inc] == [tuple(r) for r in one]

    def test_serve_append_serve_sees_fresh_rows(self, spark, tmp_path):
        # Regression pin for the r13 lazy-materialization change: the
        # scorers' pruned-fragment stage must NOT register in the SQL
        # CacheManager. Plan matching canonicalizes file reads by root
        # path (not file listing), so a ``.persist()`` there would make
        # a scorer call issued AFTER an append to the same store path
        # silently serve the pre-append rows (observed: stale top-k).
        # Sequence: serve (materializes the lazy stage) → append →
        # reload+serve — both the single-query and the batch scorer
        # must see the appended document.
        from ons_utils_spark.operators.text import (
            bm25_batch_topk_indexed,
            bm25_index_append,
            bm25_index_build,
            bm25_topk_indexed,
            load_bm25_index_incremental,
        )

        b1 = [(1, "spark spark engine"), (2, "rareword here")]
        b2 = [(7, "spark spark spark fresh")]
        store = str(tmp_path / "bm25inc")
        bm25_index_append(
            self._docs(spark, b1), "doc_id", "text", store, batch_id=0
        )
        p0, s0 = load_bm25_index_incremental(spark, store)
        queries = spark.createDataFrame(
            [(0, ["spark"])], "query_id bigint, terms array<string>"
        )
        # Materialize both scorers' lazy stages on the pre-append store.
        bm25_topk_indexed(p0, s0, ["spark"], topk=4).collect()
        bm25_batch_topk_indexed(p0, s0, queries, topk=4).collect()
        bm25_index_append(
            self._docs(spark, b2), "doc_id", "text", store, batch_id=1
        )
        p1, s1 = load_bm25_index_incremental(spark, store)
        whole_p, whole_s = bm25_index_build(
            self._docs(spark, b1 + b2), "doc_id", "text"
        )
        got_single = bm25_topk_indexed(p1, s1, ["spark"], topk=4).collect()
        want_single = bm25_topk_indexed(
            whole_p, whole_s, ["spark"], topk=4
        ).collect()
        assert [tuple(r) for r in got_single] == [
            tuple(r) for r in want_single
        ]
        assert 7 in {r["id"] for r in got_single}
        got_batch = bm25_batch_topk_indexed(p1, s1, queries, topk=4).collect()
        want_batch = bm25_batch_topk_indexed(
            whole_p, whole_s, queries, topk=4
        ).collect()
        assert [tuple(r) for r in got_batch] == [
            tuple(r) for r in want_batch
        ]
        assert 7 in {r["id"] for r in got_batch}

    def test_replay_is_idempotent(self, spark, tmp_path):
        from ons_utils_spark.operators.text import (
            bm25_index_append,
            bm25_topk_indexed,
            load_bm25_index_incremental,
        )

        b1 = [(1, "spark spark engine"), (2, "rareword here")]
        b2 = [(3, "spark and filler words")]
        store = str(tmp_path / "bm25inc")
        bm25_index_append(
            self._docs(spark, b1), "doc_id", "text", store, batch_id=0
        )
        bm25_index_append(
            self._docs(spark, b2), "doc_id", "text", store, batch_id=1
        )
        before = bm25_topk_indexed(
            *load_bm25_index_incremental(spark, store), ["spark"], topk=4
        ).collect()
        # Replay batch 0: partition overwrite in BOTH stores — the
        # folded index must not move (stats is SUM-merged, so a plain
        # double-append WOULD corrupt it; the overwrite is load-bearing).
        bm25_index_append(
            self._docs(spark, b1), "doc_id", "text", store, batch_id=0
        )
        after = bm25_topk_indexed(
            *load_bm25_index_incremental(spark, store), ["spark"], topk=4
        ).collect()
        assert [tuple(r) for r in after] == [tuple(r) for r in before]

    def test_term_filter_pushes_into_postings_scan(self, spark, tmp_path):
        # The store's whole point: the query's term In-filter must reach
        # the parquet reader (PushedFilters) so row-group min/max stats
        # on the SORTED term column prune. The scoring path executes the
        # scan inside an eager checkpoint, so the assertion targets the
        # SCORER'S OWN predicate helper (_filter_postings_terms — the
        # exact code bm25_scores_indexed runs), not a hand-built
        # fragment that would pass whatever the scorer does.
        import io
        from contextlib import redirect_stdout

        from ons_utils_spark.operators import text as T

        df = self._docs(
            spark, [(1, "spark engine"), (2, "rareword appears")]
        )
        postings, stats = T.bm25_index_build(df, "doc_id", "text")
        path = str(tmp_path / "bm25push")
        T.save_bm25_index(postings, stats, path)
        lp = spark.read.parquet(f"{path}/postings")

        def plan_of(frag):
            buf = io.StringIO()
            with redirect_stdout(buf):
                frag.explain(True)
            return buf.getvalue()

        narrow = plan_of(T._filter_postings_terms(lp, ["spark", "rareword"]))
        assert "PushedFilters: [In(term" in narrow
        # Past the cap the helper must swap to the semi-join (bounded
        # plan, no In literal on the scan).
        orig = T._BM25_INDEX_ISIN_MAX
        T._BM25_INDEX_ISIN_MAX = 1
        try:
            wide = plan_of(
                T._filter_postings_terms(lp, ["spark", "rareword"])
            )
        finally:
            T._BM25_INDEX_ISIN_MAX = orig
        assert "PushedFilters: [In(term" not in wide

    def test_torn_save_detected(self, spark, tmp_path):
        # Overwrite-crash simulation: NEW postings land but the stats
        # overwrite never runs — the stale stats row is internally
        # intact (1 row), so only its postings manifest catches it.
        import pytest

        from ons_utils_spark.operators.text import (
            bm25_index_build,
            load_bm25_index,
            save_bm25_index,
        )

        old = self._docs(spark, [(1, "spark engine")])
        new = self._docs(
            spark,
            [(1, "spark engine"), (2, "rareword appears here often")],
        )
        path = str(tmp_path / "bm25torn")
        op, os_ = bm25_index_build(old, "doc_id", "text")
        save_bm25_index(op, os_, path)
        np_, _ = bm25_index_build(new, "doc_id", "text")
        # Torn re-save: postings overwritten, stats not.
        (
            np_.repartitionByRange("term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(f"{path}/postings")
        )
        with pytest.raises(ValueError, match="torn"):
            load_bm25_index(spark, path)

    def test_torn_append_detected(self, spark, tmp_path):
        # Append-crash simulation: a batch's postings land but its
        # stats delta never does — the incremental loader's manifest
        # check must refuse to serve undercounted n/avgdl.
        import pytest

        from ons_utils_spark.operators.text import (
            bm25_index_append,
            bm25_index_build,
            load_bm25_index_incremental,
        )
        from ons_utils_spark.sources.store import partitioned_delta_append

        store = str(tmp_path / "bm25inc_torn")
        bm25_index_append(
            self._docs(spark, [(1, "spark engine")]),
            "doc_id", "text", store, batch_id=0,
        )
        p2, _ = bm25_index_build(
            self._docs(spark, [(2, "rareword appears")]), "doc_id", "text"
        )
        partitioned_delta_append(p2, f"{store}/postings", batch_id=1)
        with pytest.raises(ValueError, match="torn"):
            load_bm25_index_incremental(spark, store)

    def test_equal_count_tear_detected_by_xor(self, spark, tmp_path):
        # A torn overwrite where the NEW postings coincidentally have
        # the SAME row count as the stale stats expect — a count cannot
        # tell; the new postings file names do.
        import pytest

        from ons_utils_spark.operators.text import (
            bm25_index_build,
            load_bm25_index,
            save_bm25_index,
        )

        old = self._docs(spark, [(1, "spark engine"), (2, "rareword")])
        # Same (term, id) shape count: 3 postings either way, but
        # different dl/tf content.
        new = self._docs(
            spark, [(1, "spark spark engine"), (2, "rareword")]
        )
        path = str(tmp_path / "bm25xor")
        op, os_ = bm25_index_build(old, "doc_id", "text")
        np_, ns_ = bm25_index_build(new, "doc_id", "text")
        assert (
            os_.collect()[0]["n_postings"]
            == ns_.collect()[0]["n_postings"]
        )
        save_bm25_index(op, os_, path)
        (
            np_.repartitionByRange("term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(f"{path}/postings")
        )
        with pytest.raises(ValueError, match="torn"):
            load_bm25_index(spark, path)

    def test_incremental_equal_count_replay_tear_detected(
        self, spark, tmp_path
    ):
        # A crashed replay of batch 1: its postings are re-written with
        # different text of the SAME posting count, and its stats row
        # never lands. Counts cannot tell; the new file names do.
        import pytest

        from ons_utils_spark.operators.text import (
            bm25_index_append,
            bm25_index_build,
            load_bm25_index_incremental,
        )
        from ons_utils_spark.sources.store import partitioned_delta_append

        store = str(tmp_path / "bm25inc_replay_tear")
        bm25_index_append(
            self._docs(spark, [(1, "spark engine")]),
            "doc_id", "text", store, batch_id=0,
        )
        bm25_index_append(
            self._docs(spark, [(2, "rareword filler")]),
            "doc_id", "text", store, batch_id=1,
        )
        p2, s2 = bm25_index_build(
            self._docs(spark, [(2, "rareword rareword filler")]),
            "doc_id", "text",
        )
        assert s2.collect()[0]["n_postings"] == 2
        partitioned_delta_append(p2, f"{store}/postings", batch_id=1)
        with pytest.raises(ValueError, match="torn"):
            load_bm25_index_incremental(spark, store)

    def test_pre_witness_store_clear_error(self, spark, tmp_path):
        # A store whose stats lack the manifest (older/foreign format:
        # no consistency columns at all, or the (count, xor) witness
        # columns of the previous format) must fail with a rebuild
        # hint, not an opaque missing-field error.
        import pytest
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.text import (
            bm25_index_build,
            load_bm25_index,
            load_bm25_index_incremental,
            save_bm25_index,
        )
        from ons_utils_spark.sources.store import partitioned_delta_append

        df = self._docs(spark, [(1, "spark engine")])
        postings, stats = bm25_index_build(df, "doc_id", "text")
        old_formats = {
            "bare": stats.select("n", "total_dl"),
            "xor_witness": stats.withColumn(
                "postings_xor", F.lit(0).cast("long")
            ),
        }
        for name, old_stats in old_formats.items():
            path = str(tmp_path / f"bm25old_{name}")
            save_bm25_index(postings, stats, path)
            old_stats.coalesce(1).write.mode("overwrite").parquet(
                f"{path}/stats"
            )
            with pytest.raises(ValueError, match="witness"):
                load_bm25_index(spark, path)
            # Incremental loader: same contract.
            store = str(tmp_path / f"bm25old_inc_{name}")
            partitioned_delta_append(postings, f"{store}/postings")
            partitioned_delta_append(old_stats, f"{store}/stats")
            with pytest.raises(ValueError, match="witness"):
                load_bm25_index_incremental(spark, store)


class TestBm25IndexCompaction:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_compact_preserves_scores_and_witness(self, spark, tmp_path):
        """append ×3 → compact → load ≡ one-shot build (the manifest
        is checked on load, so passing load IS the consistency check), the
        store collapses to sentinel partitions, and a post-compaction
        append still folds in."""
        import os

        from ons_utils_spark.operators.text import (
            bm25_index_append,
            bm25_index_build,
            bm25_index_compact,
            bm25_topk_indexed,
            load_bm25_index_incremental,
        )

        b1 = [(1, "spark spark engine"), (2, "rareword here")]
        b2 = [(3, "spark and filler words"), (4, "engine spark engine")]
        b3 = [(5, "rareword spark"), (6, "plain filler text")]
        b4 = [(7, "engine rareword engine")]
        store = str(tmp_path / "bm25inc")
        for i, b in enumerate((b1, b2, b3)):
            bm25_index_append(
                self._docs(spark, b), "doc_id", "text", store, batch_id=i
            )
        bm25_index_compact(spark, store)
        # Layout collapsed to the sentinel partition in both stores.
        for half in ("postings", "stats"):
            parts = sorted(
                d for d in os.listdir(f"{store}/{half}")
                if d.startswith("batch_id=")
            )
            assert parts == ["batch_id=-1"], (half, parts)
        # Served scores identical to a one-shot build (load checks the
        # compacted stats row's manifest against the rewritten postings).
        postings, stats = load_bm25_index_incremental(spark, store)
        whole_p, whole_s = bm25_index_build(
            self._docs(spark, b1 + b2 + b3), "doc_id", "text"
        )
        terms = ["spark", "rareword", "engine"]
        inc = bm25_topk_indexed(postings, stats, terms, topk=6).collect()
        one = bm25_topk_indexed(whole_p, whole_s, terms, topk=6).collect()
        assert [tuple(r) for r in inc] == [tuple(r) for r in one]
        # The compacted store keeps accepting appends.
        bm25_index_append(
            self._docs(spark, b4), "doc_id", "text", store, batch_id=9
        )
        postings, stats = load_bm25_index_incremental(spark, store)
        whole_p, whole_s = bm25_index_build(
            self._docs(spark, b1 + b2 + b3 + b4), "doc_id", "text"
        )
        inc = bm25_topk_indexed(postings, stats, terms, topk=7).collect()
        one = bm25_topk_indexed(whole_p, whole_s, terms, topk=7).collect()
        assert [tuple(r) for r in inc] == [tuple(r) for r in one]

    def test_crashed_compaction_serves_pre_compaction_rows(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash before the whole-store promotion leaves the live
        store untouched: load serves exactly the pre-compaction rows,
        and a re-run compacts."""
        import os

        import pytest as _pytest

        from ons_utils_spark.operators.text import (
            bm25_index_append,
            bm25_index_compact,
            load_bm25_index_incremental,
        )
        from ons_utils_spark.sources import store as S

        store = str(tmp_path / "bm25inc")
        batches = (
            [(1, "spark spark engine"), (2, "rareword here")],
            [(3, "spark and filler words")],
        )
        for i, b in enumerate(batches):
            bm25_index_append(
                self._docs(spark, b), "doc_id", "text", store, batch_id=i
            )

        def served():
            postings, stats = load_bm25_index_incremental(spark, store)
            return (
                sorted(tuple(r) for r in postings.collect()),
                [tuple(r) for r in stats.collect()],
            )

        before = served()

        def crash(*args, **kwargs):
            raise OSError("injected crash before the promotion")

        with monkeypatch.context() as m:
            m.setattr(S, "promote_staged_store", crash)
            with _pytest.raises(OSError, match="injected crash"):
                bm25_index_compact(spark, store)
        assert served() == before
        bm25_index_compact(spark, store)
        for half in ("postings", "stats"):
            parts = sorted(
                d for d in os.listdir(f"{store}/{half}")
                if d.startswith("batch_id=")
            )
            assert parts == ["batch_id=-1"], (half, parts)
        assert served() == before

    def test_compact_refuses_torn_store(self, spark, tmp_path):
        """Compaction must not bake a torn store's inconsistency into a
        rewrite — the pre-compaction load fails the manifest check first."""
        import shutil

        import pytest as _pytest

        from ons_utils_spark.operators.text import (
            bm25_index_append,
            bm25_index_compact,
        )

        store = str(tmp_path / "bm25inc")
        bm25_index_append(
            self._docs(spark, [(1, "spark engine"), (2, "rareword")]),
            "doc_id", "text", store, batch_id=0,
        )
        bm25_index_append(
            self._docs(spark, [(3, "spark filler")]),
            "doc_id", "text", store, batch_id=1,
        )
        # Tear it: drop one postings partition, keep its stats row.
        shutil.rmtree(f"{store}/postings/batch_id=1")
        with _pytest.raises(ValueError, match="torn"):
            bm25_index_compact(spark, store)


class TestBm25Prf:
    """bm25_prf_topk — deterministic pseudo-relevance feedback."""

    def _docs(self, spark):
        # Docs 1-3 contain the query term plus the co-occurring word
        # "engine"; doc 4 talks only about engines (no query term) —
        # expansion must surface it, the plain query cannot.
        rows = [
            (1, "spark engine engine fast"),
            (2, "spark engine scalable"),
            (3, "spark engine distributed"),
            (4, "engine engine engine tuning"),
            (5, "unrelated words entirely here"),
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_expansion_surfaces_feedback_vocabulary(self, spark):
        from ons_utils_spark.operators.text import bm25_prf_topk, bm25_topk

        docs = self._docs(spark)
        plain_ids = {
            r["id"] for r in bm25_topk(
                docs, "doc_id", "text", ["spark"], topk=5
            ).collect()
        }
        assert 4 not in plain_ids
        prf_ids = {
            r["id"] for r in bm25_prf_topk(
                docs, "doc_id", "text", ["spark"],
                topk=5, fb_docs=3, fb_terms=1,
            ).collect()
        }
        # "engine" is the most frequent non-query term in the feedback
        # docs; the expanded query must retrieve doc 4.
        assert 4 in prf_ids

    def test_deterministic(self, spark):
        from ons_utils_spark.operators.text import bm25_prf_topk

        docs = self._docs(spark)
        a = bm25_prf_topk(docs, "doc_id", "text", ["spark"], topk=5).collect()
        b = bm25_prf_topk(docs, "doc_id", "text", ["spark"], topk=5).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_no_feedback_hits_degrades_to_plain_query(self, spark):
        from ons_utils_spark.operators.text import bm25_prf_topk

        docs = self._docs(spark)
        out = bm25_prf_topk(
            docs, "doc_id", "text", ["nonexistentterm"], topk=5
        ).collect()
        assert out == []

    def test_batch_indexed_prf_matches_singles_bitwise(self, spark):
        """bm25_prf_batch_topk_indexed — per query bit-identical to the
        single-profile indexed PRF (same feedback cut, same expansion
        ranking, same scoring folds), including a profile whose
        feedback sets OVERLAP another's (the shared doc is read once
        via the (qid, doc) map) and one with no hits at all."""
        from ons_utils_spark.operators.text import (
            bm25_index_build, bm25_prf_batch_topk_indexed,
            bm25_prf_topk_indexed,
        )

        docs = self._docs(spark)
        postings, stats = bm25_index_build(docs, "doc_id", "text")
        profiles = [
            (1, ["spark"]),
            (2, ["engine", "scalable"]),
            (3, ["nonexistentterm"]),
        ]
        queries = spark.createDataFrame(
            profiles, "query_id bigint, terms array<string>"
        )
        batch = bm25_prf_batch_topk_indexed(
            postings, stats, queries, topk=4, fb_docs=3, fb_terms=2
        ).collect()
        got = {}
        for r in batch:
            got.setdefault(r["query_id"], []).append(
                (r["id"], r["bm25"], r["rank"])
            )
        for qid, terms in profiles:
            single = bm25_prf_topk_indexed(
                postings, stats, terms, topk=4, fb_docs=3, fb_terms=2
            ).collect()
            want = [
                (r["id"], r["bm25"], i + 1) for i, r in enumerate(single)
            ]
            assert sorted(got.get(qid, [])) == sorted(want), qid

    def test_indexed_prf_matches_scan_form_bitwise(self, spark):
        """bm25_prf_topk_indexed — both stages + the expansion mining
        answered from the inverted index must reproduce the corpus-scan
        PRF exactly (Σ tf over the feedback docs' postings IS the
        occurrence count the scan form explodes raw text for)."""
        from ons_utils_spark.operators.text import (
            bm25_index_build, bm25_prf_topk, bm25_prf_topk_indexed,
        )

        docs = self._docs(spark)
        postings, stats = bm25_index_build(docs, "doc_id", "text")
        for terms, fb in ((["spark"], (3, 1)), (["spark"], (10, 5)),
                          (["nonexistentterm"], (3, 2))):
            scan = bm25_prf_topk(
                docs, "doc_id", "text", terms, topk=5,
                fb_docs=fb[0], fb_terms=fb[1],
            ).collect()
            idxd = bm25_prf_topk_indexed(
                postings, stats, terms, topk=5,
                fb_docs=fb[0], fb_terms=fb[1],
            ).collect()
            assert [tuple(r) for r in idxd] == [tuple(r) for r in scan]


class TestRetrievePassages:
    def test_composed_stage_matches_manual_composition(self, spark):
        """retrieve_passages ≡ indexed top-k then best_passage over the
        retrieved slice, with the bm25 score joined on."""
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.text import (
            best_passage, bm25_index_build, bm25_topk_indexed,
            retrieve_passages,
        )

        rows = [
            (1, "spark engine engine fast spark model"),
            (2, "spark engine scalable"),
            (3, "unrelated words entirely here"),
            (4, "engine tuning engine"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        postings, stats = bm25_index_build(docs, "doc_id", "text")
        got = retrieve_passages(
            docs, postings, stats, "doc_id", "text", ["spark", "engine"],
            topk=3, window=4, stride=2,
        ).collect()
        want_scores = {
            r["id"]: r["bm25"]
            for r in bm25_topk_indexed(
                postings, stats, ["spark", "engine"], topk=3
            ).collect()
        }
        want_pass = {
            r["id"]: (r["start"], r["score"], r["passage"])
            for r in best_passage(
                docs.where(F.col("doc_id").isin(list(want_scores))),
                "doc_id", "text", ["spark", "engine"],
                window=4, stride=2,
            ).collect()
        }
        assert {r["id"] for r in got} == set(want_scores)
        for r in got:
            assert r["bm25"] == want_scores[r["id"]]
            assert (r["start"], r["score"], r["passage"]) == want_pass[
                r["id"]
            ]
        # ordered by (bm25 desc, id)
        assert [r["id"] for r in got] == [
            i for i, _ in sorted(
                want_scores.items(), key=lambda kv: (-kv[1], kv[0])
            )
        ]

    def test_never_tokenizes_unretrieved_docs(self, spark):
        """The corpus read carries the retrieved-id In filter — the
        passage stage must not touch (or emit) unretrieved docs."""
        from ons_utils_spark.operators.text import (
            bm25_index_build, retrieve_passages,
        )

        rows = [
            (1, "spark engine"), (2, "spark spark spark"),
            (3, "spark here too"), (4, "no hits at all"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        postings, stats = bm25_index_build(docs, "doc_id", "text")
        out = retrieve_passages(
            docs, postings, stats, "doc_id", "text", ["spark"],
            topk=2, window=4, stride=4,
        ).collect()
        # Only the 2 retrieved docs appear — and the id In filter sits
        # UNDER best_passage's tokenize checkpoint, so the passage
        # stage materialized exactly the retrieved slice (the output
        # ids are the indexed top-2, not every hit-bearing doc).
        assert sorted(r["id"] for r in out) == [1, 2]


class TestBestPassage:
    def _docs(self, spark):
        rows = [
            # hits clustered at positions 16-18 -> window s=16 wins
            (1, "a b c d e f g h i j k l m n o p spark spark spark z"),
            # one hit at pos 0: windows s=0 wins (earliest tie-break
            # over any other covering window)
            (2, "spark a b c d e f g h i j"),
            (3, "no hits here at all"),
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_picks_densest_window_and_slices_it(self, spark):
        from ons_utils_spark.operators.text import best_passage

        out = {
            r["id"]: r
            for r in best_passage(
                self._docs(spark), "doc_id", "text", ["spark"],
                window=8, stride=8,
            ).collect()
        }
        assert set(out) == {1, 2}  # doc 3 has no hits
        assert out[1]["start"] == 16 and out[1]["score"] == 3
        assert out[1]["passage"].split() == ["spark", "spark", "spark", "z"]
        assert out[2]["start"] == 0 and out[2]["score"] == 1
        assert out[2]["passage"].split()[0] == "spark"

    def test_tie_breaks_to_earliest_window(self, spark):
        from ons_utils_spark.operators.text import best_passage

        df = spark.createDataFrame(
            # one hit in window s=0 (pos 1) and one in s=8 (pos 9):
            # equal score 1 -> earliest start wins
            [(1, "x spark a b c d e f g spark h i")],
            "doc_id bigint, text string",
        )
        r = best_passage(
            df, "doc_id", "text", ["spark"], window=8, stride=8
        ).collect()[0]
        assert r["start"] == 0

    def test_overlapping_strides_catch_straddlers(self, spark):
        from ons_utils_spark.operators.text import best_passage

        # Two hits at pos 6,7 straddle the s=0/s=8 boundary less well
        # than the overlapping s=4 window that contains both plus pos 11.
        df = spark.createDataFrame(
            [(1, "a b c d e f spark spark c d e spark f g h i")],
            "doc_id bigint, text string",
        )
        r = best_passage(
            df, "doc_id", "text", ["spark"], window=8, stride=4
        ).collect()[0]
        assert r["start"] == 4 and r["score"] == 3

    def test_validation(self, spark):
        from ons_utils_spark.operators.text import best_passage

        df = self._docs(spark)
        with pytest.raises(ValueError, match="window and stride"):
            best_passage(df, "doc_id", "text", ["spark"], window=0)

    def test_window_smaller_than_stride_raises(self, spark):
        """ADVICE r11: window < stride leaves positions no span covers
        — hits there would silently never count."""
        from ons_utils_spark.operators.text import best_passage

        df = self._docs(spark)
        with pytest.raises(ValueError, match="window.*stride"):
            best_passage(
                df, "doc_id", "text", ["spark"], window=4, stride=8
            )


class TestChunkDocuments:
    """Token-window RAG chunking (text.chunk_documents) — the
    integer-exact window rule, pinned at its edges; the full oracle
    replay is q_chunk_tokens."""

    def _chunks(self, spark, text, ct, ov):
        from ons_utils_spark.operators.text import chunk_documents

        df = spark.createDataFrame([(1, text)], "doc_id long, body string")
        return [
            (r["chunk_id"], r["start"], r["n_tokens"], r["chunk_text"])
            for r in chunk_documents(
                df, "doc_id", "body", chunk_tokens=ct, overlap=ov
            ).orderBy("chunk_id").collect()
        ]

    def test_short_document_is_one_chunk(self, spark):
        got = self._chunks(spark, "a b c", 5, 2)
        assert got == [(0, 0, 3, "a b c")]

    def test_windows_overlap_and_clamp(self, spark):
        # n=10, ct=4, stride 3 → 1 + ceil(6/3) = 3 chunks; the last
        # one (start 6) already covers t9 — no fourth window
        text = " ".join(f"t{i}" for i in range(10))
        got = self._chunks(spark, text, 4, 1)
        assert [(c, s, n) for c, s, n, _ in got] == [
            (0, 0, 4), (1, 3, 4), (2, 6, 4),
        ]
        assert got[1][3] == "t3 t4 t5 t6"
        assert got[2][3] == "t6 t7 t8 t9"
        # n=9 clamps the final window to 3 tokens
        got = self._chunks(spark, " ".join(f"t{i}" for i in range(9)), 4, 1)
        assert [(c, s, n) for c, s, n, _ in got] == [
            (0, 0, 4), (1, 3, 4), (2, 6, 3),
        ]
        assert got[2][3] == "t6 t7 t8"

    def test_exact_multiple_emits_no_suffix_duplicate(self, spark):
        # n=6, ct=4, stride 2 → chunks at 0 and 2 cover tokens 0..5;
        # a start at 4 would be a pure suffix of chunk 1's tail
        text = "a b c d e f"
        got = self._chunks(spark, text, 4, 2)
        assert [(c, s, n) for c, s, n, _ in got] == [(0, 0, 4), (1, 2, 4)]

    def test_zero_token_documents_emit_nothing(self, spark):
        from ons_utils_spark.operators.text import chunk_documents

        df = spark.createDataFrame(
            [(1, ""), (2, "  "), (3, None), (4, "word")],
            "doc_id long, body string",
        )
        got = chunk_documents(df, "doc_id", "body").collect()
        assert [r["id"] for r in got] == [4]

    def test_validation(self, spark):
        from ons_utils_spark.operators.text import chunk_documents

        df = spark.createDataFrame([(1, "x")], "doc_id long, body string")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="chunk_tokens"):
            chunk_documents(df, "doc_id", "body", chunk_tokens=0)
        with _pytest.raises(ValueError, match="overlap"):
            chunk_documents(
                df, "doc_id", "body", chunk_tokens=4, overlap=4
            )


class TestHashEmbed:
    """Hashing-trick featurizer (text.hash_embed) — the deterministic
    SQL-replayable embedder feeding the RAG ingest pipeline
    (q_rag_ingest_retrieve replays it in DuckDB via the XXH64 shim)."""

    def test_counts_match_manual_bucketing(self, spark):
        from pyspark.sql import functions as F

        from ons_utils_spark.operators.text import hash_embed

        df = spark.createDataFrame(
            [(0, "alpha beta alpha gamma")], "id long, body string"
        )
        got = hash_embed(df, "body", dim=8).collect()[0]["embedding"]
        # the same engine's xxhash64 is the ground truth for buckets
        buckets = {
            r["t"]: r["b"]
            for r in spark.createDataFrame(
                [("alpha",), ("beta",), ("gamma",)], "t string"
            )
            .select("t", F.pmod(F.xxhash64("t"), F.lit(8)).alias("b"))
            .collect()
        }
        want = [0.0] * 8
        for tok in ["alpha", "beta", "alpha", "gamma"]:
            want[buckets[tok]] += 1.0
        assert got == want
        assert sum(got) == 4.0  # every token lands in exactly one slot

    def test_null_and_empty_text_embed_to_zero_vector(self, spark):
        from ons_utils_spark.operators.text import hash_embed

        df = spark.createDataFrame(
            [(0, None), (1, "   ")], "id long, body string"
        )
        rows = {r["id"]: r["embedding"]
                for r in hash_embed(df, "body", dim=4).collect()}
        assert rows[0] == [0.0] * 4
        assert rows[1] == [0.0] * 4

    def test_case_insensitive_like_tokenize(self, spark):
        from ons_utils_spark.operators.text import hash_embed

        df = spark.createDataFrame(
            [(0, "Spark SPARK spark")], "id long, body string"
        )
        vec = hash_embed(df, "body", dim=16).collect()[0]["embedding"]
        assert sorted(vec) == [0.0] * 15 + [3.0]

    def test_dim_validation(self, spark):
        import pytest as _pytest

        from ons_utils_spark.operators.text import hash_embed

        df = spark.createDataFrame([(0, "x")], "id long, body string")
        with _pytest.raises(ValueError, match="dim"):
            hash_embed(df, "body", dim=0)

    def test_expr_plan_is_pure_expressions(self, spark):
        """method='expr' stays a pure expression plan (the tiny-frame
        LocalRelation-stats path); the default vector path is
        Arrow-batched, never row-pickled BatchEvalPython."""
        from ons_utils_spark.operators.text import hash_embed

        df = spark.createDataFrame([(0, "a b c")], "id long, body string")
        plan = (
            hash_embed(df, "body", dim=8, method="expr")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        vplan = (
            hash_embed(df, "body", dim=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ArrowEvalPython" in vplan
        assert "BatchEvalPython" not in vplan

    def test_vector_matches_expr_bit_for_bit(self, spark):
        """The Arrow bincount path and the expression path produce the
        SAME vectors — mixed lengths, repeats, empty and NULL text."""
        import pytest as _pytest

        from ons_utils_spark.operators.text import hash_embed

        df = spark.createDataFrame(
            [
                (0, "alpha beta alpha gamma delta"),
                (1, None),
                (2, "   "),
                (3, "one"),
                (4, " ".join(f"tok{i % 7}" for i in range(50))),
            ],
            "id long, body string",
        )
        vec = {r["id"]: r["embedding"]
               for r in hash_embed(df, "body", dim=8).collect()}
        expr = {r["id"]: r["embedding"]
                for r in hash_embed(df, "body", dim=8,
                                    method="expr").collect()}
        assert vec == expr
        with _pytest.raises(ValueError, match="method"):
            hash_embed(df, "body", dim=8, method="nope")


class TestDeferredLoadWitness:
    """The load-side consistency check runs inside the load itself — a
    driver comparison of the postings listing with the manifests the
    stats rows record, no Spark job — so a torn store raises at load,
    and a healthy load serves what a one-shot build serves."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_deferred_matches_eager_and_serves_identically(
        self, spark, tmp_path
    ):
        from ons_utils_spark.operators import text as T

        df = self._docs(
            spark,
            [(1, "spark spark engine"), (2, "rareword appears"),
             (3, "spark filler words")],
        )
        postings, stats = T.bm25_index_build(df, "doc_id", "text")
        path = str(tmp_path / "bm25def")
        T.save_bm25_index(postings, stats, path)
        lp, ls = T.load_bm25_index(spark, path)
        # Pruned consumer, materialized the way the serving queries do.
        frag = T._filter_postings_terms(lp, ["spark"]).localCheckpoint(
            eager=True
        )
        got = T.bm25_topk_indexed(frag, ls, ["spark"], topk=5).collect()
        want = T.bm25_topk_indexed(
            postings, stats, ["spark"], topk=5
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        # The local stats row carries the stored values.
        assert [tuple(r) for r in ls.collect()] == [
            tuple(r) for r in stats.select("n", "total_dl").collect()
        ]

    def test_deferred_torn_save_raises_on_validate(self, spark, tmp_path):
        import pytest

        from ons_utils_spark.operators import text as T

        old = self._docs(spark, [(1, "spark engine")])
        new = self._docs(
            spark,
            [(1, "spark engine"), (2, "rareword appears here often")],
        )
        path = str(tmp_path / "bm25def_torn")
        op, os_ = T.bm25_index_build(old, "doc_id", "text")
        T.save_bm25_index(op, os_, path)
        np_, _ = T.bm25_index_build(new, "doc_id", "text")
        (
            np_.repartitionByRange("term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(f"{path}/postings")
        )
        with pytest.raises(ValueError, match="torn"):
            T.load_bm25_index(spark, path)

    def test_deferred_incremental_torn_append_raises(self, spark, tmp_path):
        import pytest

        from ons_utils_spark.operators import text as T
        from ons_utils_spark.sources.store import partitioned_delta_append

        store = str(tmp_path / "bm25def_inc")
        T.bm25_index_append(
            self._docs(spark, [(1, "spark engine")]),
            "doc_id", "text", store, batch_id=0,
        )
        p2, _ = T.bm25_index_build(
            self._docs(spark, [(2, "rareword appears")]), "doc_id", "text"
        )
        partitioned_delta_append(p2, f"{store}/postings", batch_id=1)
        with pytest.raises(ValueError, match="torn"):
            T.load_bm25_index_incremental(spark, store)

    def test_deferred_incremental_healthy_matches_eager(
        self, spark, tmp_path
    ):
        from ons_utils_spark.operators import text as T

        b1 = [(1, "spark spark engine"), (2, "rareword here")]
        b2 = [(3, "spark and filler words")]
        store = str(tmp_path / "bm25def_inc_ok")
        T.bm25_index_append(
            self._docs(spark, b1), "doc_id", "text", store, batch_id=0,
        )
        T.bm25_index_append(
            self._docs(spark, b2), "doc_id", "text", store, batch_id=1,
        )
        lp, ls = T.load_bm25_index_incremental(spark, store)
        frag = T._filter_postings_terms(lp, ["spark"]).localCheckpoint(
            eager=True
        )
        whole_p, whole_s = T.bm25_index_build(
            self._docs(spark, b1 + b2), "doc_id", "text"
        )
        got = T.bm25_topk_indexed(frag, ls, ["spark"], topk=4).collect()
        want = T.bm25_topk_indexed(
            whole_p, whole_s, ["spark"], topk=4
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        assert [tuple(r) for r in ls.collect()] == [
            tuple(r) for r in whole_s.select("n", "total_dl").collect()
        ]
