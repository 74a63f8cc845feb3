"""Round-4 cont.: Stupid Backoff, edit-distance verify, diversity,
decayed activity, skew report."""

import datetime as dt
import math

from pyspark.sql import Row, functions as F

from tribeca_insights_spark.operators.dedup import edit_distance_verify
from tribeca_insights_spark.operators.lm import stupid_backoff_score
from tribeca_insights_spark.operators.stats import (
    decayed_activity,
    skew_report,
)
from tribeca_insights_spark.operators.textstats import lexical_diversity


# --- Stupid Backoff ---------------------------------------------------------


def _py_sb(train_texts, score_text):
    def words(t):
        import re

        return [w for w in re.sub(r"[^A-Za-zÀ-ÿ]+", " ", t).lower()
                .strip().split(" ") if w]

    from collections import Counter

    c1, c2, c3 = Counter(), Counter(), Counter()
    N = 0
    for t in train_texts:
        ws = words(t)
        N += len(ws)
        c1.update(ws)
        c2.update(zip(ws, ws[1:]))
        c3.update(zip(ws, ws[1:], ws[2:]))
    ws = words(score_text)
    total = 0
    n = 0
    for tri in zip(ws, ws[1:], ws[2:]):
        n += 1
        if c3[tri]:
            lp = math.log(c3[tri] / c2[tri[:2]])
        elif c2[tri[1:]]:
            lp = math.log(0.4) + math.log(c2[tri[1:]] / c1[tri[1]])
        else:
            lp = 2 * math.log(0.4) + math.log(max(c1[tri[2]], 1) / N)
        total += math.floor(1e6 * lp)
    return n, total


def test_stupid_backoff_matches_python(spark):
    train = ["the cat sat on the mat", "the cat ran"]
    score = "the cat sat on a mat zz the"
    df = spark.createDataFrame(
        [(0, train[0], True), (1, train[1], True), (2, score, False)],
        "doc_id long, text string, is_t boolean",
    )
    out = {
        r["doc_id"]: (r["n_trigrams"], r["sb_logprob_micros"])
        for r in stupid_backoff_score(df, F.col("is_t")).collect()
    }
    assert out[2] == _py_sb(train, score)
    assert out[0] == _py_sb(train, train[0])


def test_stupid_backoff_backoff_ladder(spark):
    # trigram hit > bigram backoff > unigram backoff > unseen floor
    df = spark.createDataFrame(
        [(0, "a b c a b c", True),
         (1, "a b c", False),      # trigram hit
         (2, "b b c", False),      # (b,b,c): backoff to bigram (b,c)
         (3, "c c a", False),      # (c,c,a): no bigram (c,a)? c a absent
         (4, "z z z", False)],     # fully unseen
        "doc_id long, text string, is_t boolean",
    )
    rows = {r["doc_id"]: r["sb_logprob_micros"]
            for r in stupid_backoff_score(df, F.col("is_t")).collect()}
    # monotone: direct hit scores higher than backoffs, unseen lowest
    assert rows[1] > rows[2] > rows[4]
    assert rows[3] > rows[4]


def test_stupid_backoff_short_docs_absent(spark):
    df = spark.createDataFrame(
        [(0, "a b c d", True), (1, "a b", False)],
        "doc_id long, text string, is_t boolean",
    )
    ids = {r["doc_id"]
           for r in stupid_backoff_score(df, F.col("is_t")).collect()}
    assert ids == {0}


# --- edit-distance verify ---------------------------------------------------


def test_edit_verify_thresholds(spark):
    docs = spark.createDataFrame(
        [(1, "kitten jumped"), (2, "sitten jumped"), (3, "zzzzzz qqqqq")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3)], "a_id long, b_id long"
    )
    out = {(r["a_id"], r["b_id"]): (r["lev"], r["edit_sim_micros"])
           for r in edit_distance_verify(cand, docs,
                                         min_sim_micros=500_000).collect()}
    assert (1, 2) in out and out[(1, 2)][0] == 1
    assert (1, 3) not in out  # far pair rejected


def test_edit_verify_empty_texts_identical(spark):
    docs = spark.createDataFrame([(1, ""), (2, "")],
                                 "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    r = edit_distance_verify(cand, docs).collect()[0]
    assert (r["lev"], r["edit_sim_micros"]) == (0, 1_000_000)


# --- lexical diversity ------------------------------------------------------


def test_lexical_diversity_hand_counts(spark):
    docs = spark.createDataFrame(
        [("en", "the cat the dog"), ("en", "the bird"),
         ("fr", "le le le")],
        "lang string, text string",
    )
    out = {r["lang"]: r for r in lexical_diversity(docs).collect()}
    en = out["en"]
    # tokens: the x3, cat, dog, bird -> 6 tokens, 4 types, 3 hapax
    assert (en["n_tokens"], en["n_types"], en["n_hapax"]) == (6, 4, 3)
    assert en["ttr_micros"] == 4 * 1_000_000 // 6
    assert en["hapax_frac_micros"] == 750_000
    fr = out["fr"]
    assert (fr["n_tokens"], fr["n_types"], fr["n_hapax"]) == (3, 1, 0)


# --- decayed activity -------------------------------------------------------


def test_decayed_activity_halving_and_clamp(spark):
    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2026, 1, 10, 12), 1000),  # age 0
            (1, dt.datetime(2026, 1, 9, 1), 1000),    # age 1 -> 500
            (1, dt.datetime(2026, 1, 7, 23), 1001),   # age 3 -> 125
            (1, dt.datetime(2026, 1, 20, 0), 1000),   # future -> age 0
            (2, dt.datetime(2020, 1, 1, 0), 1 << 40), # huge age -> 0
        ],
        "user_id long, ts timestamp, value_micros long",
    )
    out = {r["user_id"]: (r["n_events"], r["decayed_micros"])
           for r in decayed_activity(ev, "2026-01-10").collect()}
    assert out[1] == (4, 1000 + 500 + 125 + 1000)
    assert out[2] == (1, 0)


def test_decayed_activity_half_life_param(spark):
    ev = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 8, 0), 800)],
        "user_id long, ts timestamp, value_micros long",
    )
    # age 2 with half-life 2 -> one halving
    r = decayed_activity(ev, "2026-01-10", half_life_days=2).collect()[0]
    assert r["decayed_micros"] == 400


# --- skew report ------------------------------------------------------------


def test_skew_report_shares_and_cumulative(spark):
    rows = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, "k string"
    )
    out = sorted(
        (r["k"], r["n_rows"], r["share_micros"], r["cum_share_micros"])
        for r in skew_report(rows, "k", topk=2).collect()
    )
    assert out == [
        ("a", 6, 600_000, 600_000),
        ("b", 3, 300_000, 900_000),
    ]


def test_skew_report_tie_order_and_no_window(spark):
    rows = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("c",)], "k string"
    )
    res = skew_report(rows, "k", topk=3).collect()
    ranked = [r["k"] for r in sorted(res,
                                     key=lambda r: r["cum_share_micros"])]
    assert ranked == ["c", "a", "b"]  # ties rank by key ascending
    plan = skew_report(rows, "k", topk=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "WindowExec" not in plan


# --- gram novelty -----------------------------------------------------------


def test_gram_novelty_shared_vs_unique(spark):
    from tribeca_insights_spark.operators.dedup import gram_novelty

    shared = " ".join(f"w{i}" for i in range(13))
    uniq_a = " ".join(f"a{i}" for i in range(13))
    uniq_b = " ".join(f"b{i}" for i in range(13))
    docs = spark.createDataFrame(
        [(1, shared + " " + uniq_a), (2, shared + " " + uniq_b),
         (3, "too short")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gram_novelty(docs, n=13).collect()}
    # 26 tokens -> 14 grams; the first gram (pure shared window) occurs
    # in both docs, all windows touching unique tokens are private
    assert out[1]["n_grams"] == 14
    assert out[1]["n_shared"] == 1
    assert out[1]["novelty_micros"] == 13 * 1_000_000 // 14
    assert 3 not in out  # < 13 tokens


def test_gram_novelty_identical_docs_zero_novelty(spark):
    from tribeca_insights_spark.operators.dedup import gram_novelty

    t = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame([(1, t), (2, t)],
                                 "doc_id long, text string")
    for r in gram_novelty(docs, n=13).collect():
        assert r["novelty_micros"] == 0 and r["n_shared"] == r["n_grams"]


# --- reciprocity ------------------------------------------------------------


def test_link_reciprocity_hand_graph(spark):
    from tribeca_insights_spark.operators.linkgraph import link_reciprocity

    e = spark.createDataFrame(
        [Row(src=a, dst=b)
         for a, b in [(1, 2), (2, 1), (1, 3), (3, 3), (1, 2)]]
    )
    out = {r["node"]: (r["n_out"], r["n_recip"], r["reciprocity_micros"])
           for r in link_reciprocity(e).collect()}
    # node 1: out {2,3}, only 2 links back -> 1/2; self-loop 3-3 ignored
    assert out[1] == (2, 1, 500_000)
    assert out[2] == (1, 1, 1_000_000)
    assert 3 not in out  # only a self-loop


# --- keyness ----------------------------------------------------------------


def test_keyness_distinctive_word_ranks_first(spark):
    from tribeca_insights_spark.operators.textstats import keyness_g2

    docs = spark.createDataFrame(
        [("s1", "quantum quantum quantum common common"),
         ("s2", "common common common common pasta"),
         ("s2", "common pasta pasta")],
        "source string, text string",
    )
    out = keyness_g2(docs, topk=2).collect()
    top = {r["source"]: r["word"] for r in out if r["rank"] == 1}
    assert top["s1"] == "quantum"
    assert top["s2"] == "pasta"
    for r in out:
        if r["word"] in ("quantum", "pasta"):
            assert r["g2_micros"] > 0


def test_keyness_matches_python_formula(spark):
    from tribeca_insights_spark.operators.textstats import keyness_g2

    docs = spark.createDataFrame(
        [("x", "aa bb aa cc"), ("y", "bb bb cc dd")],
        "source string, text string",
    )
    rows = keyness_g2(docs, topk=10).collect()
    # python replay
    from collections import Counter

    toks = {"x": ["aa", "bb", "aa", "cc"], "y": ["bb", "bb", "cc", "dd"]}
    a = Counter((g, w) for g, ws in toks.items() for w in ws)
    wt = Counter()
    st = Counter()
    for (g, w), c in a.items():
        wt[w] += c
        st[g] += c
    N = sum(st.values())
    for r in rows:
        g, w = r["source"], r["word"]
        av, b = a[(g, w)], wt[w] - a[(g, w)]
        exp = av * math.log(av * N / (wt[w] * st[g]))
        if b > 0:
            exp += b * math.log(b * N / (wt[w] * (N - st[g])))
        assert r["g2_micros"] == math.floor(1e6 * 2 * exp)
