"""DSIR-style importance scoring for pre-training data selection.

Beyond-reference capability (task brief): Data Selection via Importance
Resampling (Xie et al., NeurIPS 2023) scores every raw document by how
much its hashed bag-of-words looks like a target corpus versus the raw
corpus, then keeps a weighted sample. The published recipe is exactly
what's implemented here: hash unigrams into a fixed number of buckets,
fit smoothed categorical distributions for target and raw, and score
each document by its log-likelihood ratio  sum_w [log p_target(b(w)) -
log p_raw(b(w))].

Scale shape (the reason this operator exists as dataflow, not a driver
loop): one wide shuffle to (doc, bucket) counts, a tiny <=n_buckets-row
weight dimension derived from it (broadcast back), and one final groupBy
on doc_id. Nothing driver-side, nothing quadratic, no Python in the hot
path.

Determinism contract: the per-bucket log-weights are quantized to integer
MICROS (floor(1e6 * llr)) before the per-document sum. Integer sums are
associative, so the score is independent of partitioning / aggregation
order and bit-exact across engines — a DuckDB oracle can state it, which
a raw floating-point sum (order-dependent rounding) could not guarantee.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Tokenizer shared with the corpus-TF oracles (entry_queries._TOKENS_CTE):
# collapse non-letters to single spaces, lower, split — proven identical
# between Spark and DuckDB regex dialects by q03-q07.
_NONWORD = "[^A-Za-zÀ-ÿ]+"


def _words(text_col):
    return F.filter(
        F.split(F.lower(F.trim(F.regexp_replace(text_col, _NONWORD, " "))),
                " ", -1),
        lambda w: F.length(w) > 0,
    )


def dsir_importance(docs: DataFrame, target_col,
                    n_buckets: int = 1024) -> DataFrame:
    """Per-document DSIR importance: (id, n_tokens, dsir_score_micros).

    ``target_col`` is a boolean Column marking the target-distribution
    slice (e.g. ``F.col("lang") == "en"``); both distributions are fit
    in the same pass. ``dsir_score_micros`` = sum over tokens of the
    bucket log-likelihood-ratio weight, each weight pre-quantized to
    floor(1e6 * llr) — divide by 1e6 * n_tokens for the per-token
    average LLR. Laplace +1 smoothing on bucket counts. Documents with
    zero tokens after cleanup produce no output row.
    """
    words = docs.select(
        F.col("doc_id"),
        target_col.alias("_is_t"),
        F.explode(_words(F.col("text"))).alias("_w"),
    )
    bucket = (
        F.conv(F.substring(F.md5("_w"), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).alias("_b")
    # one wide shuffle: (doc, bucket) counts; map-side partial agg applies
    per_doc = words.select("doc_id", "_is_t", bucket).groupBy(
        "doc_id", "_is_t", "_b"
    ).agg(F.count("*").alias("_cnt"))

    # tiny derived dims: <=n_buckets rows, then a 1-row total
    bucket_tot = per_doc.groupBy("_b").agg(
        F.sum("_cnt").alias("_r_cnt"),
        F.sum(F.when(F.col("_is_t"), F.col("_cnt")).otherwise(0))
        .alias("_t_cnt"),
    )
    totals = bucket_tot.agg(
        F.sum("_r_cnt").alias("_R"), F.sum("_t_cnt").alias("_T")
    )
    weights = bucket_tot.crossJoin(F.broadcast(totals)).select(
        "_b",
        F.floor(
            F.lit(1e6)
            * (
                F.log(F.col("_t_cnt") + 1)
                - F.log(F.col("_T") + n_buckets)
                - F.log(F.col("_r_cnt") + 1)
                + F.log(F.col("_R") + n_buckets)
            )
        ).alias("_w_micros"),
    )
    return (
        per_doc.join(F.broadcast(weights), "_b")
        .groupBy("doc_id")
        .agg(
            F.sum("_cnt").alias("n_tokens"),
            F.sum(F.col("_cnt") * F.col("_w_micros"))
            .alias("dsir_score_micros"),
        )
    )
