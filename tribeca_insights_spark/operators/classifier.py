"""Hashed linear quality classifier — fastText-style scoring, shuffle-free.

Beyond-reference capability (task brief): production web pipelines
(CCNet, FineWeb-Edu, DCLM) gate documents with a cheap linear classifier
over hashed token features — the model is a weight vector indexed by
``hash(token) % n_buckets``, and scoring is a dot product. The reference
has no classifier at all; this operator supplies the *serving* side with
the exact shape such a model needs at 100 TB:

- the weight lookup is a pure expression (no join, no UDF, no shuffle):
  ``bucket = md5(token) % K`` then a closed-form weight. A real trained
  model swaps the closed form for ``weights[bucket]`` with the vector
  shipped as a broadcast array literal — the plan shape is identical;
- the per-document reduction runs inside ``F.aggregate`` over the token
  array, so scoring is a narrow map directly above the parquet scan —
  zero Exchange, embarrassingly parallel, no skew surface at any scale;
- weights are integer micros, so the document sum is exact and
  aggregation-order-independent (DuckDB oracle matches bit-for-bit);
  only the final mean/sigmoid are floats, computed once from two exact
  integers.

Deterministic pseudo-weights: ``w(b) = (b * 2654435761) % 2000001 -
1000000`` (Knuth multiplicative hash spread over [-1e6, 1e6] micros).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

_KNUTH = 2654435761
_SPAN = 2000001  # weights in [-1_000_000, 1_000_000] micros


def _bucket(tok, n_buckets: int):
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def bucket_weight_micros(tok, n_buckets: int = 1 << 20):
    """Closed-form weight in micros for a token's hash bucket."""
    return (_bucket(tok, n_buckets) * _KNUTH) % _SPAN - (_SPAN - 1) // 2


def hashed_linear_score(docs: DataFrame, n_buckets: int = 1 << 20) -> DataFrame:
    """Score every document with the hashed linear model.

    Tokenization matches the corpus tokenizer's keep-class
    (``[^A-Za-zÀ-ÿ]+`` split, then lowercase) so classifier features line
    up with TF features. Returns (id, n_tokens, score_micros,
    mean_weight, prob) where prob = sigmoid(mean weight); empty docs get
    NULL mean/prob.
    """
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.regexp_replace(F.col("text"),
                                            "[^A-Za-zÀ-ÿ]+", " "))),
            " ", -1,
        ),
        lambda w: F.length(w) > 0,
    )
    score = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc + bucket_weight_micros(w, n_buckets),
    )
    out = docs.select(
        F.col("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        score.alias("score_micros"),
    )
    mean = F.col("score_micros") / 1e6 / F.col("n_tokens")
    return out.select(
        "doc_id", "n_tokens", "score_micros",
        F.when(F.col("n_tokens") > 0, F.round(mean, 6)).alias("mean_weight"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean)), 6),
        ).alias("prob"),
    )


def hashed_features(docs: DataFrame, label, n_buckets: int = 64) -> DataFrame:
    """(doc_id, y, bucket, x): hashed bag-of-words feature rows.
    ``label`` is a Column evaluating to +1/-1; it rides along from the
    projection so no label join ever touches the corpus. One
    map-combined groupBy — the single corpus-sized shuffle of the
    whole training pipeline (every later step operates on these slim
    rows or on K-row weight tables)."""
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.regexp_replace(F.col("text"),
                                            "[^A-Za-zÀ-ÿ]+", " "))),
            " ", -1,
        ),
        lambda w: F.length(w) > 0,
    )
    return (
        docs.select(
            F.col("doc_id"),
            label.cast("long").alias("y"),
            F.explode(toks).alias("_tok"),
        )
        .select(
            "doc_id", "y", _bucket(F.col("_tok"), n_buckets).alias("bucket")
        )
        .groupBy("doc_id", "y", "bucket")
        .agg(F.count("*").cast("long").alias("x"))
    )


def train_hashed_classifier(docs: DataFrame, label,
                            n_buckets: int = 64, rounds: int = 2) -> DataFrame:
    """(bucket, weight): full-batch perceptron over hashed token
    features — the TRAINING counterpart of :func:`hashed_linear_score`
    (which is the serving side). The production pattern this mirrors:
    distill a rule-based curation heuristic (the ``label`` column —
    q122 uses a length prior) into a cheap linear model, fastText-style.

    Update rule (lr = 1, all integer — aggregation-order-free, so the
    DuckDB oracle replays every round bit-exactly):

        margin_d = Σ_b w[b]·x_d[b]
        pred_d   = +1 if margin_d > 0 else -1      (tie → -1)
        w       += Σ_{pred_d ≠ y_d} y_d · x_d      (misclassified only)

    Scale shape: features are built ONCE (one corpus shuffle) and
    persisted; each round is two keyed shuffles of the slim feature
    rows (the margin groupBy(doc) and the delta groupBy(bucket)) plus
    a broadcast of the K-row weight table — the model never exceeds
    ``n_buckets`` rows, and no action runs inside the loop (training
    is one lazy plan; ``rounds`` is small by contract, like the Lloyd
    iterations in operators/kmeans.py).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    feats = hashed_features(docs, label, n_buckets=n_buckets).persist()
    w = feats.select("bucket").distinct().select(
        "bucket", F.lit(0).cast("long").alias("w")
    )
    for _ in range(rounds):
        margins = (
            feats.join(F.broadcast(w), "bucket", "left")
            .groupBy("doc_id", "y")
            .agg(
                F.sum(F.col("x") * F.coalesce(F.col("w"), F.lit(0)))
                .alias("margin")
            )
        )
        pred = F.when(F.col("margin") > 0, F.lit(1)).otherwise(F.lit(-1))
        mis = margins.filter(pred != F.col("y")).select("doc_id")
        delta = (
            feats.join(mis, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("y") * F.col("x")).alias("dw"))
        )
        # delta buckets ⊆ observed buckets, so a left merge is total
        w = w.join(delta, "bucket", "left").select(
            "bucket",
            (F.col("w") + F.coalesce(F.col("dw"), F.lit(0)))
            .cast("long").alias("w"),
        )
    return w.select("bucket", F.col("w").alias("weight"))


def sigmoid(x: float) -> float:
    """Python-side mirror for tests."""
    return 1.0 / (1.0 + math.exp(-x))


def roc_points(
    scored: DataFrame,
    score_col: str = "score_micros",
    label_col: str = "label",
    bucket_width: int = 1,
) -> DataFrame:
    """ROC curve + AUC for a document-quality classifier: one row per
    observed score bucket, descending-threshold sweep — the calibration
    artifact behind "where do I set the FineWeb-Edu / DCLM quality
    cutoff?". Output per threshold (= bucket lower edge, all docs with
    ``score >= threshold`` predicted positive): ``threshold_micros, tp,
    fp, fn, tn, tpr_micros, fpr_micros, precision_micros`` plus the
    curve-constant ``auc_micros`` (trapezoid over the bucketed curve,
    (0,0)-anchored; ties inside a bucket handled as one group — the
    standard tied-score trapezoid).

    Beyond-reference capability (threshold-sweep evaluation for the
    curation gate; reference has no classifier at all). Integer-exact:
    AUC's trapezoid numerator Σ Δfp·(tp_i + tp_{i−1}) is a plain integer
    sum, so ``auc_micros = 1e6·S div (2·N·P)`` is order-independent and
    the DuckDB oracle matches bit-for-bit; rates are integer micros with
    NULL (not 0) when a class is empty.

    Scale shape (100 TB): per-bucket (n_pos, n_neg) is ONE map-combined
    partial agg on a key whose cardinality is bounded by
    ``ceil(score_range / bucket_width)`` (micros scores at width 10^4 →
    ≤101 buckets); the cumulative sweep then runs on that bucket-sized
    array via the q143/q150 array-prefix-sum idiom — NO WindowExec, no
    single-partition sort, nothing corpus-sized past the first agg. The
    prefix is O(B²) array ops in one row — pick ``bucket_width`` so
    B ≲ a few thousand (the resolution a threshold decision needs).
    """
    if bucket_width < 1:
        raise ValueError("bucket_width must be >= 1")
    lbl = F.col(label_col).cast("boolean")
    per = (
        scored.select(
            (
                F.floor(F.col(score_col) / F.lit(bucket_width))
                * F.lit(bucket_width)
            )
            .cast("long")
            .alias("_b"),
            F.when(lbl, F.lit(1)).otherwise(F.lit(0)).alias("_p"),
        )
        .groupBy("_b")
        .agg(
            F.sum("_p").cast("long").alias("_np"),
            (F.count("*") - F.sum("_p")).cast("long").alias("_nn"),
        )
    )
    # descending threshold order: cum through index i = tp/fp at that cut
    arr = per.agg(
        F.reverse(
            F.sort_array(F.collect_list(F.struct("_b", "_np", "_nn")))
        ).alias("a")
    )
    cum = arr.select(
        F.transform(
            "a",
            lambda s, i: F.struct(
                s["_b"].alias("b"),
                F.aggregate(
                    F.slice("a", F.lit(1), i + 1),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x["_np"],
                ).alias("tp"),
                F.aggregate(
                    F.slice("a", F.lit(1), i + 1),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x["_nn"],
                ).alias("fp"),
            ),
        ).alias("p")
    )
    tot_p = F.element_at("p", -1)["tp"]
    tot_n = F.element_at("p", -1)["fp"]
    # trapezoid numerator: Σ Δfp·(tp_i + tp_{i−1}), (0,0)-anchored
    auc_num = F.aggregate(
        F.zip_with(
            "p",
            F.concat(
                F.array(
                    F.struct(
                        F.lit(0).cast("long").alias("b"),
                        F.lit(0).cast("long").alias("tp"),
                        F.lit(0).cast("long").alias("fp"),
                    )
                ),
                F.slice("p", F.lit(1), F.greatest(F.size("p") - 1, F.lit(0))),
            ),
            lambda cur, prev: (cur["fp"] - prev["fp"])
            * (cur["tp"] + prev["tp"]),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    staged = cum.select(
        "p",
        tot_p.alias("_P"),
        tot_n.alias("_N"),
        auc_num.alias("_S"),
    )
    return staged.select(
        F.explode("p").alias("s"), "_P", "_N", "_S"
    ).select(
        F.col("s.b").alias("threshold_micros"),
        F.col("s.tp").alias("tp"),
        F.col("s.fp").alias("fp"),
        (F.col("_P") - F.col("s.tp")).alias("fn"),
        (F.col("_N") - F.col("s.fp")).alias("tn"),
        F.expr("(s.tp * 1000000L) div nullif(_P, 0L)").alias("tpr_micros"),
        F.expr("(s.fp * 1000000L) div nullif(_N, 0L)").alias("fpr_micros"),
        F.expr("(s.tp * 1000000L) div nullif(s.tp + s.fp, 0L)").alias(
            "precision_micros"
        ),
        F.expr("(_S * 1000000L) div nullif(2L * _P * _N, 0L)").alias(
            "auc_micros"
        ),
    )


def calibration_bins(docs: DataFrame, label,
                     n_bins: int = 10,
                     n_buckets: int = 1 << 20) -> DataFrame:
    """Reliability diagram for the hashed linear classifier: fixed-width
    score bins × observed positive rate — the calibration check run
    before a quality classifier's scores become sampling WEIGHTS (an
    uncalibrated score is fine for ranking but silently skews a
    score-proportional mixture; DCLM/FineWeb-Edu pipelines bin exactly
    like this).

    ``label`` is a Column evaluating to 1/0 on ``docs``. Each scored
    document's mean token weight (micros, in [-1e6, 1e6]) is shifted by
    +1e6 so every division is on non-negative BIGINTs (Spark ``div``
    truncates toward zero while DuckDB ``//`` floors — identical only
    for non-negative operands; the shift makes the floor exact on both
    engines: floor(x + c) = floor(x) + c for integer c). Bins are FIXED
    RANGES of the score domain, never quantiles — a quantile binning
    would be a global sort; fixed edges keep the whole operator one
    map-combined groupBy over n_bins keys.

    Output: (bin, lo_micros, n_docs, n_pos, pos_rate_micros,
    mean_score_micros) — empty-token documents are excluded (their
    score is undefined).
    """
    width = 2_000_000 // n_bins
    scored = hashed_linear_score(
        docs, n_buckets=n_buckets,
    )
    labeled = docs.select(F.col("doc_id"), label.cast("long").alias("_y"))
    j = scored.filter(F.col("n_tokens") > 0).join(labeled, "doc_id")
    binned = j.select(
        "_y",
        F.expr(
            "(score_micros + 1000000L * n_tokens) div n_tokens"
        ).alias("_shifted"),
    ).select(
        "_y", "_shifted",
        F.least(
            F.lit(n_bins - 1),
            F.expr(f"_shifted div {width}L"),
        ).cast("int").alias("bin"),
    )
    agg = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_y").cast("bigint").alias("n_pos"),
        F.sum("_shifted").cast("bigint").alias("_sum_shifted"),
    )
    return agg.select(
        "bin",
        (F.col("bin").cast("bigint") * width - 1_000_000)
        .alias("lo_micros"),
        "n_docs",
        "n_pos",
        F.expr("n_pos * 1000000L div n_docs").alias("pos_rate_micros"),
        (F.expr("_sum_shifted div n_docs") - 1_000_000)
        .alias("mean_score_micros"),
    )


def isotonic_calibration(bins: DataFrame) -> DataFrame:
    """Isotonic (PAV) probability calibration over score bins — the
    nonparametric calibrator production quality-classifiers use when
    Platt's sigmoid is too rigid (Zadrozny & Elkan, KDD 2002): fit
    the best MONOTONE probability curve to the per-bin empirical
    rates, pooling adjacent violators.

    Computed via the minimax characterization of the weighted
    isotonic fit (Robertson-Wright-Dykstra eq. 1.9):

        p_hat(k) = max_{i<=k} min_{j>=k} sum(pos[i..j])/sum(tot[i..j])

    which the oracle restates verbatim as nested aggregations over
    bin intervals — O(n^2) in the BIN count, and bins are bounded
    (|score buckets|, not corpus rows), so exactness costs nothing.
    The Spark side evaluates the same double divisions over prefix
    sums inside one applyInPandas per group (bins shuffle once on the
    group key; a group moves |bins| integers across Arrow).

    Output: ``(grp, bin_idx, n_pos, n_tot, p_hat_micros)`` with
    p_hat floored to integer micros; the result is monotone
    non-decreasing in bin_idx by construction.
    """
    import pandas as pd

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bin_idx").reset_index(drop=True)
        pos = [int(x) for x in pdf["n_pos"]]
        tot = [int(x) for x in pdf["n_tot"]]
        n = len(pos)
        cp = [0] * (n + 1)
        ct = [0] * (n + 1)
        for i in range(n):
            cp[i + 1] = cp[i] + pos[i]
            ct[i + 1] = ct[i] + tot[i]
        out = []
        for k in range(n):
            best = None
            for i in range(k + 1):
                mn = None
                for j in range(k, n):
                    t = ct[j + 1] - ct[i]
                    v = (cp[j + 1] - cp[i]) / t if t else 0.0
                    if mn is None or v < mn:
                        mn = v
                if best is None or mn > best:
                    best = mn
            import math
            out.append(int(math.floor(1e6 * best)))
        return pd.DataFrame({
            "grp": pdf["grp"],
            "bin_idx": pdf["bin_idx"],
            "n_pos": pos,
            "n_tot": tot,
            "p_hat_micros": out,
        })

    schema = (
        "grp string, bin_idx bigint, n_pos bigint, "
        "n_tot bigint, p_hat_micros bigint"
    )
    sel = bins.select(
        F.col("grp").cast("string").alias("grp"),
        F.col("bin_idx").cast("bigint").alias("bin_idx"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_tot").cast("bigint").alias("n_tot"),
    )
    return sel.groupBy(sel["grp"]).applyInPandas(_fit, schema)
