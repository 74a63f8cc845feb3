"""Round-3 curation operators: keep_best retention, token budgets,
hashed classifier, normalization, domain stats, tracking-param strip."""

from pyspark.sql import Row, functions as F

from tribeca_insights_spark.functions.normalize import (
    normalize_text_col,
    with_normalized_text,
)
from tribeca_insights_spark.functions.urlnorm import canonical_url
from tribeca_insights_spark.operators.classifier import (
    bucket_weight_micros,
    hashed_linear_score,
    sigmoid,
)
from tribeca_insights_spark.operators.dedup import keep_best
from tribeca_insights_spark.operators.mixing import token_budget_rates
from tribeca_insights_spark.operators.textstats import domain_stats


# --- keep_best --------------------------------------------------------------


def test_keep_best_argmax_and_tiebreak(spark):
    df = spark.createDataFrame(
        [
            # cluster A: doc 3 has the top score
            Row(doc_id=1, ck="A", score=10),
            Row(doc_id=3, ck="A", score=30),
            Row(doc_id=2, ck="A", score=20),
            # cluster B: score tie — lowest id (4) must win
            Row(doc_id=5, ck="B", score=7),
            Row(doc_id=4, ck="B", score=7),
            # singleton
            Row(doc_id=9, ck="C", score=1),
        ]
    )
    out = {
        r["ck"]: r
        for r in keep_best(df, "ck", "score").collect()
    }
    assert out["A"]["keeper_doc_id"] == 3 and out["A"]["cluster_size"] == 3
    assert out["A"]["score"] == 30
    assert out["B"]["keeper_doc_id"] == 4
    assert out["C"]["keeper_doc_id"] == 9 and out["C"]["cluster_size"] == 1


def test_keep_best_carry_cols(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, ck="A", score=1, url="u1"),
         Row(doc_id=2, ck="A", score=5, url="u2")]
    )
    r = keep_best(df, "ck", "score", carry_cols=("url",)).collect()
    assert r[0]["url"] == "u2"


# --- token_budget_rates -----------------------------------------------------


def _rates(spark, rows, budget):
    dt = spark.createDataFrame(
        [Row(source=s, n_tokens=n) for s, n, _ in rows]
    )
    w = spark.createDataFrame(
        [Row(source=s, weight_micros=wm) for s, _, wm in rows]
    )
    return {
        r["source"]: r
        for r in token_budget_rates(dt, w, budget=budget).collect()
    }


def test_token_budget_uncapped_exact_shares(spark):
    # plenty of supply: desired = budget * w / W exactly, no surplus
    out = _rates(
        spark,
        [("a", 10_000, 500_000), ("b", 10_000, 500_000)],
        budget=10_000,
    )
    assert out["a"]["desired_tokens"] == 5000
    assert out["a"]["kept_tokens"] == 5000
    assert out["a"]["rate_micros"] == 500_000


def test_token_budget_redistribution(spark):
    # "a" can only supply 1000 of its 5000 share; the 4000 surplus is
    # re-granted to "b" (the only uncapped group)
    out = _rates(
        spark,
        [("a", 1_000, 500_000), ("b", 100_000, 500_000)],
        budget=10_000,
    )
    assert out["a"]["kept_tokens"] == 1000
    assert out["a"]["rate_micros"] == 1_000_000
    assert out["b"]["desired_tokens"] == 9000
    assert out["b"]["kept_tokens"] == 9000
    assert out["b"]["rate_micros"] == 90_000


def test_token_budget_all_capped(spark):
    # budget exceeds total supply: everyone capped, rate 1.0, no crash
    # on the empty uncapped pool (w_uncapped = 0 guard)
    out = _rates(
        spark, [("a", 10, 500_000), ("b", 20, 500_000)], budget=1_000
    )
    assert out["a"]["kept_tokens"] == 10
    assert out["a"]["rate_micros"] == 1_000_000
    assert out["b"]["rate_micros"] == 1_000_000


# --- hashed_linear_score ----------------------------------------------------


def test_hashed_classifier_matches_python_mirror(spark):
    import hashlib

    def w(tok, k=1 << 20):
        b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % k
        return (b * 2654435761) % 2000001 - 1000000

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="Alpha beta beta!"), Row(doc_id=2, text="")]
    )
    out = {r["doc_id"]: r for r in hashed_linear_score(docs).collect()}
    exp = w("alpha") + 2 * w("beta")
    assert out[1]["n_tokens"] == 3
    assert out[1]["score_micros"] == exp
    mean = exp / 1e6 / 3
    assert abs(out[1]["prob"] - sigmoid(mean)) < 1e-6
    # empty doc: no tokens, NULL mean/prob, zero score
    assert out[2]["n_tokens"] == 0
    assert out[2]["score_micros"] == 0
    assert out[2]["mean_weight"] is None and out[2]["prob"] is None


def test_bucket_weight_range(spark):
    df = spark.range(200).select(
        bucket_weight_micros(F.col("id").cast("string")).alias("w")
    )
    mn, mx = df.agg(F.min("w"), F.max("w")).first()
    assert -1_000_000 <= mn and mx <= 1_000_000


# --- normalize_text ---------------------------------------------------------


def test_normalize_strips_and_collapses(spark):
    df = spark.createDataFrame(
        [Row(text="a\x01b​‌ c﻿  d\te\x7f")]
    )
    r = df.select(normalize_text_col("text").alias("n")).first()
    assert r["n"] == "ab c d e"


def test_normalize_preserves_tabs_newlines_as_spaces(spark):
    df = spark.createDataFrame([Row(text="  x\n\ny \t z  ")])
    out = with_normalized_text(df).first()
    assert out["norm_text"] == "x y z"
    assert out["n_junk_chars"] == 0  # \n \t are whitespace, not junk


def test_normalize_junk_count(spark):
    df = spark.createDataFrame([Row(text="a\x00\x1f‍")])
    assert with_normalized_text(df).first()["n_junk_chars"] == 3


# --- domain_stats -----------------------------------------------------------


def test_domain_stats_rollup(spark):
    df = spark.createDataFrame(
        [
            Row(source="s1", doc_id=1, lang="en", text="one two three"),
            Row(source="s1", doc_id=2, lang="en", text="one two three"),
            Row(source="s1", doc_id=3, lang="pt", text="quatro"),
            Row(source="s2", doc_id=4, lang="en", text="one two three"),
        ]
    )
    out = {r["source"]: r for r in domain_stats(df).collect()}
    assert out["s1"]["n_docs"] == 3
    assert out["s1"]["n_langs"] == 2
    assert out["s1"]["total_word_tokens"] == 7
    # docs 1,2,4 share text → all three flagged dup (global hash window)
    assert out["s1"]["n_dup_docs"] == 2
    assert out["s2"]["n_dup_docs"] == 1
    assert abs(out["s2"]["avg_chars"] - 13.0) < 1e-9


# --- tracking-param strip ---------------------------------------------------


def _canon(spark, url, **kw):
    return (
        spark.createDataFrame([Row(u=url)])
        .select(canonical_url("u", **kw).alias("c"))
        .first()["c"]
    )


def test_strip_tracking_params(spark):
    assert (
        _canon(
            spark,
            "HTTP://Ex.COM:80/p?utm_source=x&b=2&gclid=g&a=1#f",
            strip_tracking=True,
        )
        == "http://ex.com/p?a=1&b=2"
    )


def test_strip_tracking_all_params_gone(spark):
    assert (
        _canon(spark, "https://ex.com/p?utm_campaign=c&fbclid=f",
               strip_tracking=True)
        == "https://ex.com/p"
    )


def test_strip_tracking_off_by_default(spark):
    assert (
        _canon(spark, "https://ex.com/p?utm_a=1&b=2")
        == "https://ex.com/p?b=2&utm_a=1"
    )


# --- encoding quality --------------------------------------------------------


def test_encoding_quality_signals(spark):
    from tribeca_insights_spark.operators.textstats import encoding_quality

    df = spark.createDataFrame(
        [
            (1, "clean ascii text"),
            (2, "café naïve"),          # real accents: not suspect
            (3, "franÃ§ais Ã©cole Ã©té"),     # double-encoded: suspect
            (4, "damaged � twice �"),    # replacement chars
            (5, ""),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in encoding_quality(df).collect()}
    assert rows[1].encoding_suspect is False and rows[1].ascii_ratio == 1.0
    assert rows[2].encoding_suspect is False
    assert rows[2].n_non_ascii == 2  # é and ï only
    assert rows[3].encoding_suspect is True
    assert rows[3].mojibake_hits == 3  # Ã§ + Ã©cole + Ã©té
    assert rows[4].n_replacement == 2 and rows[4].encoding_suspect is True
    assert rows[5].n_chars == 0 and rows[5].ascii_ratio == 0.0


# --- reading ease -------------------------------------------------------------


def test_reading_ease_known_values(spark):
    from tribeca_insights_spark.operators.textstats import reading_ease

    df = spark.createDataFrame(
        [
            (1, "The cat sat."),          # 3 words, 3 syllables, 1 sentence
            (2, "Oratory obfuscates. Yes!"),
            (3, ""),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in reading_ease(df).collect()}
    r1 = rows[1]
    assert (r1.n_words, r1.n_syllables, r1.n_sentences) == (3, 3, 1)
    assert abs(r1.flesch_score - round(206.835 - 1.015 * 3 - 84.6, 4)) < 1e-9
    r2 = rows[2]
    # "oratory obfuscates. yes!": vowel groups o-a-o-y|o-u-a-e|(yes: 'ye'
    # is one group as y+e are adjacent vowels in the proxy class) = 9
    assert r2.n_sentences == 2
    assert r2.n_syllables == 9
    r3 = rows[3]
    assert r3.n_words == 0 and r3.n_sentences == 1


# --- curation verdict ---------------------------------------------------------


def test_curation_verdict_gates_and_order(spark):
    from tribeca_insights_spark.operators.textstats import curation_verdict

    df = spark.createDataFrame(
        [
            (1, "plenty of good clean words here to keep"),
            (2, "tiny"),                               # too_short
            (3, "damaged text with marker � plus words"),   # encoding
            (4, "1234 5678 9012 3456 7890 and one word"),   # low_alpha
            (5, "bad Ã© 123 456 789 000 111"),  # encoding AND low_alpha
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in curation_verdict(df).collect()}
    assert rows[1].keep is True and rows[1].reasons_csv == ""
    assert rows[2].reasons_csv == "too_short"
    assert rows[3].reasons_csv == "encoding"
    assert rows[4].reasons_csv == "low_alpha"
    assert rows[5].keep is False
    assert rows[5].reasons_csv == "encoding,low_alpha"  # fixed gate order


def test_curation_verdict_non_latin_scripts_keep(spark):
    # ADVICE r3: the alpha gate must count letters in ANY script, not
    # just [A-Za-zÀ-ÿ] — otherwise CJK/Cyrillic/Greek corpora are
    # silently dropped as "low_alpha"
    from tribeca_insights_spark.operators.textstats import curation_verdict

    df = spark.createDataFrame(
        [
            (1, "это хороший русский текст с пятью или больше словами"),
            (2, "日本語 の 良質な テキスト です ここに あります"),
            (3, "Αυτό είναι ένα καλό ελληνικό κείμενο με λέξεις"),
            (4, "한국어 로 된 좋은 텍스트 가 여기 있습니다"),
            (5, "3 × 4 ÷ 2 = 6 and 7 × 8 ÷ 4 = 14 ok"),  # ×/÷ not letters
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in curation_verdict(df).collect()}
    for i in (1, 2, 3, 4):
        assert rows[i].keep is True, (i, rows[i].reasons_csv)
        assert rows[i].alpha_ratio > 0.9
    # ×/÷ must NOT count as letters (old range included U+00D7/U+00F7)
    assert rows[5].alpha_ratio < 0.6
    assert "low_alpha" in rows[5].reasons_csv


def test_curation_verdict_thresholds(spark):
    from tribeca_insights_spark.operators.textstats import curation_verdict

    df = spark.createDataFrame(
        [(1, "one two three four five six")], "doc_id int, text string"
    )
    strict = curation_verdict(df, min_words=10).first()
    assert strict.reasons_csv == "too_short"
    tight = curation_verdict(df, max_words=3).first()
    assert tight.reasons_csv == "too_long"


# --- NFC normalization --------------------------------------------------------


def test_nfc_folds_combining_marks(spark):
    from tribeca_insights_spark.functions.normalize import with_nfc_text

    df = spark.createDataFrame(
        [
            (1, "café"),            # e + combining acute -> é
            (2, "café"),             # already precomposed: unchanged
            (3, "Ǻ ring"),   # A + ring + acute -> Ǻ
            (4, None),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in with_nfc_text(df).collect()}
    assert rows[1].nfc_text == "café" and rows[1].nfc_changed is True
    assert rows[2].nfc_changed is False
    assert rows[3].nfc_text == "Ǻ ring"
    assert len(rows[3].nfc_text) == len("Ǻ ring") - 2
    assert rows[4].nfc_text is None
    # dedup consequence: both forms hash identically after NFC
    import pyspark.sql.functions as F

    hashes = (
        with_nfc_text(df.filter("doc_id in (1, 2)"))
        .select(F.md5(F.col("nfc_text").cast("binary")).alias("h"))
        .distinct()
        .count()
    )
    assert hashes == 1


def test_script_profile_closed_form(spark):
    from tribeca_insights_spark.operators.textstats import script_profile

    df = spark.createDataFrame(
        [
            (1, "abc привет 123"),     # 3 latin, 6 cyrillic, 3 digit / 12
            (2, "你好"),                # 2 han / 2
            (3, "   "),                 # whitespace-only -> zero row
            (4, "γειά مرحبا"),          # 4 greek, 5 arabic / 9
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in script_profile(df).collect()}
    assert out[1]["n_chars"] == 12
    assert out[1]["latin_micros"] == 3 * 1_000_000 // 12
    assert out[1]["cyrillic_micros"] == 6 * 1_000_000 // 12
    assert out[1]["digit_micros"] == 3 * 1_000_000 // 12
    assert out[2]["han_micros"] == 1_000_000
    assert out[3]["n_chars"] == 0 and out[3]["latin_micros"] == 0
    assert out[4]["greek_micros"] == 4 * 1_000_000 // 9
    assert out[4]["arabic_micros"] == 5 * 1_000_000 // 9


class TestTrainHashedClassifier:
    def _train(self, spark, rows, **kw):
        from pyspark.sql import functions as F

        from tribeca_insights_spark.operators.classifier import (
            train_hashed_classifier,
        )

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        label = F.when(
            F.col("text").contains("good"), F.lit(1)
        ).otherwise(F.lit(-1))
        return {
            r["bucket"]: r["weight"]
            for r in train_hashed_classifier(
                df, label=label, n_buckets=1 << 16, **kw
            ).collect()
        }

    def _bucket(self, tok, n_buckets=1 << 16):
        import hashlib

        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets

    def test_round1_is_positive_class_sum(self, spark):
        # zero weights -> every margin 0 -> pred -1 -> only y=+1 docs
        # are misclassified, so w1 = sum of positive docs' features
        w = self._train(
            spark, [(0, "good good win"), (1, "bad bad")], rounds=1
        )
        assert w[self._bucket("good")] == 2
        assert w[self._bucket("win")] == 1
        assert w[self._bucket("bad")] == 0  # negative doc was correct

    def test_round2_no_update_when_separated(self, spark):
        r1 = self._train(spark, [(0, "good good"), (1, "bad")], rounds=1)
        r2 = self._train(spark, [(0, "good good"), (1, "bad")], rounds=2)
        # after round 1 both docs classify correctly (margins 4 and 0
        # -> preds +1/-1) so round 2 changes nothing
        assert r1 == r2

    def test_round2_fixes_negative_doc(self, spark):
        # shared token pushes the negative doc's margin positive after
        # round 1; round 2 must subtract its features
        rows = [(0, "good common"), (1, "common common bad")]
        r2 = self._train(spark, rows, rounds=2)
        # round1: w[good]=1, w[common]=1, w[bad]=0
        # doc1 margin = 2*1 = 2 > 0 -> pred +1, y=-1 -> misclassified
        # delta: common -2, bad -1
        assert r2[self._bucket("good")] == 1
        assert r2[self._bucket("common")] == -1
        assert r2[self._bucket("bad")] == -1

    def test_bad_rounds(self, spark):
        import pytest as _pt

        with _pt.raises(ValueError):
            self._train(spark, [(0, "good")], rounds=0)
