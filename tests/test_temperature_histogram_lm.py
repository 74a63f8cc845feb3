"""Round-4 wave: sqrt-temperature mixture rates (q176), cluster-size
histogram (q177), held-out LM eval (q178), histogram quantiles (q179)."""

import math

from pyspark.sql import Row

from tribeca_insights_spark.operators.dedup import cluster_size_histogram
from tribeca_insights_spark.operators.lm import heldout_lm_eval
from tribeca_insights_spark.operators.mixing import sqrt_temperature_rates
from tribeca_insights_spark.operators.textstats import histogram_quantiles


# --- sqrt_temperature_rates ----------------------------------------------------


def test_sqrt_temperature_compresses_head(spark):
    dt = spark.createDataFrame(
        [Row(source="big", n_tokens=900), Row(source="small", n_tokens=100)]
    )
    out = {r["source"]: r for r in sqrt_temperature_rates(dt).collect()}
    # raw shares 90/10 → sqrt shares 3:1 = 75/25
    assert out["big"]["sqrt_scale"] == int(math.isqrt(900 * 10**6))
    assert out["big"]["rate_micros"] == 750_000
    assert out["small"]["rate_micros"] == 250_000


def test_sqrt_temperature_rates_sum_to_one(spark):
    dt = spark.createDataFrame(
        [Row(source=f"s{i}", n_tokens=(i + 1) * 37) for i in range(7)]
    )
    rows = sqrt_temperature_rates(dt).collect()
    total = sum(r["rate_micros"] for r in rows)
    # floor division loses < 1 micro per group
    assert 1_000_000 - len(rows) < total <= 1_000_000


# --- cluster_size_histogram ----------------------------------------------------


def test_cluster_size_histogram_bins(spark):
    # sizes: 1,1,1 (bin 0), 2 (bin 1), 5 (bin 2), 8 (bin 3)
    rows = []
    for i in range(3):
        rows.append(Row(ck=f"single{i}"))
    rows += [Row(ck="pair")] * 2
    rows += [Row(ck="five")] * 5
    rows += [Row(ck="eight")] * 8
    out = {r["size_bin"]: r for r in
           cluster_size_histogram(spark.createDataFrame(rows),
                                  key_col="ck").collect()}
    assert out[0]["n_clusters"] == 3 and out[0]["n_excess_docs"] == 0
    assert out[1]["n_docs"] == 2
    assert out[2]["bin_lo"] == 4 and out[2]["n_docs"] == 5
    assert out[3]["bin_lo"] == 8 and out[3]["n_excess_docs"] == 7


# --- heldout_lm_eval -----------------------------------------------------------


def test_heldout_lm_eval_splits_and_sign(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="the cat sat on the mat again today ok")
         for i in range(40)]
    )
    rows = {r["split"]: r for r in heldout_lm_eval(docs).collect()}
    # all three splits present with a 40-doc corpus and 80/10/10 cuts
    assert "train" in rows
    for r in rows.values():
        # log-probs are negative; mean is the sign-split floor
        assert r["lm_logprob_micros"] < 0
        assert r["mean_bigram_micros"] < 0
        got = r["mean_bigram_micros"]
        want = -((-r["lm_logprob_micros"]) // r["n_bigrams"])
        assert got == want
    assert sum(r["n_docs"] for r in rows.values()) == 40
    # identical docs → identical per-bigram mean across splits (the
    # val/train gap is zero when there is nothing held out to surprise)
    means = {r["mean_bigram_micros"] for r in rows.values()}
    assert len(means) == 1


# --- histogram_quantiles --------------------------------------------------------


def test_histogram_quantiles_closed_form(spark):
    # group g: values 1..8 → bins 0,1,1,2,2,2,2,3 ; N=8
    # p50: cum(bin1)=3 < 4, cum(bin2)=7 ≥ 4 → bin 2 → lo 4
    # p90: need cum ≥ 7.2 → bin 3 → lo 8
    docs = spark.createDataFrame(
        [Row(lang="g", n_chars=i) for i in range(1, 9)]
    )
    out = {(r["lang"], r["q_micros"]): r for r in
           histogram_quantiles(docs)
           .collect()}
    assert out[("g", 500_000)]["bin_lo"] == 4
    assert out[("g", 900_000)]["bin_lo"] == 8
    assert out[("g", 500_000)]["n"] == 8


def test_histogram_quantiles_clamps_zero(spark):
    docs = spark.createDataFrame([Row(lang="z", n_chars=0), Row(lang="z", n_chars=0)])
    out = histogram_quantiles(docs).collect()
    assert all(r["bin_lo"] == 1 for r in out)


# --- frequency_subsample --------------------------------------------------------


def test_frequency_subsample_rare_words_kept(spark):
    from tribeca_insights_spark.operators.mixing import (
        frequency_subsample,
    )

    # "filler" dominates; "rare" appears once → threshold clamps to
    # 1e6 (always kept — needs t·T ≥ 1, i.e. T ≥ 1000 at t=1e-3);
    # filler's threshold < 1e6 → some occurrences dropped
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="filler " * 101 + "rare" * (i == 0))
         for i in range(10)]
    )
    out = {r["word"]: r for r in
           frequency_subsample(docs, t_micros=1000).collect()}
    assert out["rare"]["threshold_micros"] == 1_000_000
    assert out["rare"]["n_kept"] == 1
    f = out["filler"]
    assert f["threshold_micros"] < 1_000_000
    assert 0 < f["n_kept"] < f["cf"]


def test_frequency_subsample_deterministic(spark):
    from tribeca_insights_spark.operators.mixing import (
        frequency_subsample,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="a a a b c d e f") for i in range(5)]
    )
    r1 = sorted(map(tuple, frequency_subsample(docs).collect()))
    r2 = sorted(map(tuple,
                    frequency_subsample(docs.repartition(7)).collect()))
    assert r1 == r2  # partition-stable coins
