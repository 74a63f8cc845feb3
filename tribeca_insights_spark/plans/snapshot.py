"""Crawl-snapshot diffing: added / removed / changed / unchanged.

The reference resumes from a flat visited CSV (storage.py:65-80) and has
no notion of comparing two crawls; at corpus scale the first question any
recrawl answers is "what changed since the last snapshot" — this is that
operator, as one full-outer join on the page key comparing content
fingerprints.

Scale notes: both sides arrive key-partitioned from the same
url-hash-bucketed layout (FIXTURES.md §1 partition spec), so the full
outer join is a co-partitioned sort-merge join with zero extra exchange
when bucketing is in effect; AQE handles the residual skew. The output
status column is computed in codegen — no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "url",
    fingerprint: str = "page_hash",
) -> DataFrame:
    """Full-outer diff of two snapshots keyed by ``key``.

    Returns (key, status, old_fingerprint, new_fingerprint) with status ∈
    {'added','removed','changed','unchanged'}. Each input must be unique
    per key (dedup upstream — storage.py:80's last-wins rule);
    duplicate keys would fan out the join.
    """
    o = old.select(F.col(key), F.col(fingerprint).alias("old_fingerprint"))
    n = new.select(F.col(key), F.col(fingerprint).alias("new_fingerprint"))
    j = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("old_fingerprint").isNull(), F.lit("added"))
        .when(F.col("new_fingerprint").isNull(), F.lit("removed"))
        .when(
            F.col("old_fingerprint") == F.col("new_fingerprint"),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.select(
        key,
        status.alias("status"),
        "old_fingerprint",
        "new_fingerprint",
    )


def snapshot_diff_counts(diff: DataFrame) -> DataFrame:
    """Per-status rollup of a :func:`snapshot_diff` result — the 4-row
    summary a recrawl report leads with."""
    return diff.groupBy("status").agg(F.count("*").alias("n_pages"))


def recrawl_priority(
    diffs: DataFrame,
    key: str = "url",
    intervals: tuple = ("30d", "7d", "1d"),
) -> DataFrame:
    """Change-rate-driven recrawl scheduling over a HISTORY of snapshot
    diffs: union the :func:`snapshot_diff` outputs of consecutive
    snapshot pairs (a ``status`` column each), count how often every page
    changed, and bucket it into a recrawl interval — pages that never
    change recrawl slowly, churny pages recrawl fast (the classic
    freshness/politeness trade; Cho & Garcia-Molina 2003).

    ``diffs``: union of diff outputs (``key``, ``status``); 'added' and
    'changed' both count as churn (a new page is maximally fresh-needy).
    ``intervals``: recrawl interval per change-count bucket — index
    ``min(n_changes, len-1)``, so the default maps 0 → 30d, 1 → 7d,
    ≥2 → 1d.

    One partial-agg groupBy on the page key (map-side combine absorbs the
    per-snapshot fan-in); the bucket pick is a codegen'd CASE — no UDF,
    no window, no second shuffle.
    """
    churn = F.when(
        F.col("status").isin("changed", "added"), F.lit(1)
    ).otherwise(F.lit(0))
    agg = diffs.groupBy(key).agg(
        F.sum(churn).cast("int").alias("n_changes"),
        F.count("*").cast("int").alias("n_observations"),
    )
    last = len(intervals) - 1
    bucket = F.least(F.col("n_changes"), F.lit(last))
    expr = F.when(bucket == 0, F.lit(intervals[0]))
    for i, iv in enumerate(intervals[1:], start=1):
        expr = expr.when(bucket == i, F.lit(iv))
    return agg.select(
        key,
        "n_changes",
        "n_observations",
        expr.otherwise(F.lit(intervals[last])).alias("recrawl_interval"),
    )


def scd2_history(
    log: DataFrame,
    key_cols,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an append-only
    event log: one validity interval per OBSERVED STATE RUN —
    (key…, state, valid_from, valid_to, is_current), where
    ``valid_to IS NULL`` marks the open current row.

    The reference's visited CSV (storage.py:65-80) keeps only the
    last-wins current status; the warehouse-standard companion is the
    full history table that answers "what was the status AT time t".
    Built in three window steps, every window PARTITIONED BY THE KEY
    (never global — at 10^12 log rows a key's history is tiny even when
    the log is not):

    1. order each key's events by (ts, tiebreak) and drop rows whose
       state equals the previous state (run-length collapse — re-crawls
       observing the same status create no new interval);
    2. ``valid_from`` = the surviving row's ts, ``valid_to`` =
       ``lead(valid_from)`` over the same key window;
    3. ``is_current`` = ``valid_to IS NULL``.

    Determinism: equal (key, ts) pairs are ordered by ``tiebreak_col``
    (required if duplicates are possible — pass the event id). The
    whole plan is ONE hash Exchange on the key (all three windows share
    the partitioning) plus codegen projects.
    """
    keys = list(key_cols)
    order = [F.asc("ts")] + (
        [F.asc(tiebreak_col)] if tiebreak_col else []
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order)
    collapsed = (
        log.withColumn("_prev", F.lag(state_col).over(w))
        .filter(
            F.col("_prev").isNull()
            | (F.col(state_col) != F.col("_prev"))
        )
        .drop("_prev")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return collapsed.select(
        *keys,
        F.col(state_col).alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def change_rate_schedule(captures: DataFrame) -> DataFrame:
    """CHANGE-RATE estimation over capture history → revisit schedule
    (Cho & Garcia-Molina, "Estimating frequency of change", TOIT
    2003 — the published model behind adaptive recrawl): per url,
    ``(url, n_captures, n_changes, span_s, lambda_micros_per_day,
    revisit_days_micros)`` where a "change" is a capture whose
    content hash differs from the previous capture's,
    ``lambda = changes / span`` is the naive Poisson-rate estimate in
    changes-per-day micros, and ``revisit = span / (changes+1)`` days
    — proportional-to-period scheduling: a page that changed at every
    observation gets revisited at the observation granularity, a
    static page backs off to its full observed span. (The paper's
    bias-corrected ``-ln(1 - X/n)·n/T`` refinement is a documented
    swap; the naive ratio keeps every value exact-integer so the
    oracle is closed-form at any SF.)

    Complements q95 (recrawl_priority ranks by LAST delta; this
    estimates the underlying rate from the WHOLE history) and q283
    (publisher-declared TTLs; this is the observed-behavior side the
    scheduler reconciles declared TTLs against).

    Shape: ONE url-partitioned lag window (bounded — captures per
    url, never corpus-wide) + one partial-agg groupBy on url. At
    10^12 captures both are url-bucketed, co-located with the CDX
    store's SURT layout (q305)."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("warc_ts")
    marked = captures.select(
        F.col("url"),
        F.col("warc_ts"),
        F.when(
            F.lag("content_hash").over(w).isNotNull()
            & (F.col("content_hash") != F.lag("content_hash").over(w)), 1
        ).otherwise(0).alias("_chg"),
    )
    agg = marked.groupBy("url").agg(
        F.count("*").cast("int").alias("n_captures"),
        F.sum("_chg").cast("int").alias("n_changes"),
        (F.unix_timestamp(F.max("warc_ts"))
         - F.unix_timestamp(F.min("warc_ts"))).cast("bigint").alias("span_s"),
    )
    day = 86_400
    return agg.select(
        "url", "n_captures", "n_changes", "span_s",
        F.when(
            F.col("span_s") > 0,
            F.expr(f"1000000L * {day}L * n_changes div span_s"),
        ).otherwise(F.lit(0)).cast("bigint")
        .alias("lambda_micros_per_day"),
        F.when(
            F.col("span_s") > 0,
            F.expr(
                f"1000000L * span_s div ({day}L * (n_changes + 1))"
            ),
        ).otherwise(F.lit(0)).cast("bigint")
        .alias("revisit_days_micros"),
    )
