"""Ordered-funnel and cohort-retention analytics over the event log.

The reference's events story stops at the visited-status log; the
product-analytics queries every web property runs against the same shape
of data are the ordered funnel ("view, then click strictly after, then
purchase strictly after that") and the retention matrix ("of the users
whose first event fell on day D, how many were active D+k days later").

Both are built join+aggregate only, keyed by user:

- the funnel is k chained rounds of (conditional min-aggregate ⟶
  co-partitioned join back on user) — each round is one keyed shuffle of
  slim (user, ts) rows; NO window over the raw event stream and no
  per-user event arrays (a power user with 10^6 events costs nothing
  more than min());
- retention is (user-keyed first-event aggregate) ⟶ join ⟶
  (cohort, offset) partial-agg distinct-count. The user dim is
  user-count-sized, re-joined on the same key partitioning.

At 10^12 events both plans shuffle user-count-sized aggregates, never
event-count-sized intermediates beyond the first combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def funnel_stages(events: DataFrame, steps) -> DataFrame:
    """Per-user ordered funnel: (user, t1..tk, stage_reached) where
    ``t_i`` is the EARLIEST occurrence of ``steps[i]`` STRICTLY AFTER
    ``t_{i-1}`` (t1 = earliest occurrence of steps[0] overall) and
    ``stage_reached`` counts the non-null prefix.

    "Earliest next occurrence" (not "any order", not "same event
    reused") — the standard ordered-funnel semantic: a click at
    09:00 and a view at 10:00 is NOT a view→click conversion.
    """
    steps = list(steps)
    if not steps:
        raise ValueError("steps must be non-empty")
    out = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            events.filter(F.col("event_type") == step)
            .select("user_id", F.col("ts").alias("_ts"))
            .join(out.select("user_id", F.col(f"t{i - 1}").alias("_prev")),
                  "user_id")
            .filter(F.col("_ts") > F.col("_prev"))
            .groupBy("user_id")
            .agg(F.min("_ts").alias(f"t{i}"))
        )
        out = out.join(nxt, "user_id", "left")
    stage = None
    for i in range(1, len(steps) + 1):
        this = F.when(F.col(f"t{i}").isNotNull(), 1).otherwise(0)
        stage = this if stage is None else stage + this
    return out.withColumn("stage_reached", stage.cast("int"))


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort-retention matrix: (cohort_date, day_offset, n_users) —
    users are cohorted by the DATE of their first event; a user counts
    toward offset k if they have any event k days after their cohort
    date. Offset 0 row = cohort size (every user is active on their
    first day by construction)."""
    first = events.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_date")
    )
    return (
        events.select("user_id", F.to_date("ts").alias("_d"))
        .join(first, "user_id")
        .select(
            "cohort_date",
            F.datediff("_d", "cohort_date").alias("day_offset"),
            F.col("user_id"),
        )
        .groupBy("cohort_date", "day_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )
