"""Round-4 wave: BPE fertility (q180), host language-mix entropy
(q181), degree assortativity (q182), dedup shift report (q183)."""

import math

from pyspark.sql import Row

from tribeca_insights_spark.operators.bpe import bpe_fertility
from tribeca_insights_spark.operators.linkgraph import degree_assortativity
from tribeca_insights_spark.operators.textstats import group_label_entropy

MERGES = [("t", "h"), ("th", "e")]


# --- bpe_fertility -------------------------------------------------------------


def test_bpe_fertility_closed_form(spark):
    # "the" encodes to 1 symbol under (t,h)+(th,e); "cat" stays 3 chars
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", text="the the"),
            Row(doc_id=2, lang="xx", text="cat"),
        ]
    )
    out = {r["lang"]: r for r in
           bpe_fertility(docs, MERGES).collect()}
    en = out["en"]
    assert (en["n_words"], en["n_bpe_tokens"]) == (2, 2)
    assert en["fertility_micros"] == 1_000_000
    assert en["chars_per_token_micros"] == 3_000_000  # 6 chars / 2 toks
    xx = out["xx"]
    assert (xx["n_words"], xx["n_bpe_tokens"]) == (1, 3)
    assert xx["fertility_micros"] == 3_000_000


# --- group_label_entropy --------------------------------------------------------


def test_group_label_entropy_mono_vs_mixed(spark):
    rows = [Row(host="mono", lang="en")] * 4
    rows += [Row(host="mixed", lang=l) for l in ("en", "es", "pt", "de")]
    out = {r["host"]: r for r in
           group_label_entropy(spark.createDataFrame(rows)).collect()}
    assert out["mono"]["entropy_micros"] == 0
    # uniform over 4 labels → ln 4 nats
    expect = math.floor(1e6 * math.log(4))
    assert abs(out["mixed"]["entropy_micros"] - expect) <= 1
    assert out["mixed"]["n_labels"] == 4


# --- degree_assortativity --------------------------------------------------------


def test_assortativity_star_is_negative(spark):
    # star graph: hub deg 4 pairs with leaves deg 1 → perfectly
    # disassortative, r = -1
    e = spark.createDataFrame([Row(src=0, dst=i) for i in range(1, 5)])
    r = degree_assortativity(e).collect()[0]
    assert r["assortativity_micros"] == -1_000_000
    assert r["m_directed"] == 8


def test_assortativity_regular_graph_null(spark):
    # cycle: every degree equal → zero variance → NULL
    e = spark.createDataFrame(
        [Row(src=i, dst=(i + 1) % 5) for i in range(5)]
    )
    r = degree_assortativity(e).collect()[0]
    assert r["assortativity_micros"] is None


def test_assortativity_sufficient_stats(spark):
    # path 1-2-3: degrees 1,2,1; directed pairs (1,2),(2,1),(2,3),(3,2)
    # x-sums: m=4, Σx=6, Σxy=8, Σx²=10 → r = (32-36)/(40-36) = -1
    e = spark.createDataFrame([Row(src=1, dst=2), Row(src=2, dst=3)])
    r = degree_assortativity(e).collect()[0]
    assert (r["m_directed"], r["sum_x"], r["sum_xy"], r["sum_x2"]) == \
        (4, 6, 8, 10)
    assert r["assortativity_micros"] == -1_000_000


# --- ann_recall_eval -----------------------------------------------------------


def test_ann_recall_eval_counts(spark):
    from tribeca_insights_spark.operators.similarity import (
        ann_recall_eval,
    )

    truth = spark.createDataFrame(
        [Row(query_id=1, neighbor_id=n) for n in (10, 11, 12)]
        + [Row(query_id=2, neighbor_id=n) for n in (20, 21, 22)]
    )
    approx = spark.createDataFrame(
        [Row(query_id=1, neighbor_id=n) for n in (10, 11, 99)]
        + [Row(query_id=2, neighbor_id=n) for n in (98, 97, 96)]
    )
    out = {r["query_id"]: r for r in
           ann_recall_eval(truth, approx, k=3).collect()}
    assert out[1]["n_hits"] == 2
    assert out[1]["recall_micros"] == 666_666
    # zero-overlap query keeps its row
    assert out[2]["n_hits"] == 0 and out[2]["recall_micros"] == 0
