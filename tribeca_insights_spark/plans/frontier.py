"""Crawl-frontier scheduling — the planner between the state layer and a
fetch executor.

The reference sleeps ``crawl_delay`` between sequential fetches
(crawler.py:142); distributed, politeness becomes a PLAN: each domain's
pending urls get a deterministic slot ``(rank-1) × crawl_delay`` seconds
from window start, so any number of executors can fetch concurrently
across domains while each domain still sees at most one request per delay
interval. Pure dataflow: one window over the (already small) pending set
partitioned by domain, one broadcast join of the per-domain delay
dimension (sources/robots.crawl_delays)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..operators.tf import domain_col


def schedule_fetches(frontier: DataFrame, delays: DataFrame) -> DataFrame:
    """(url, …) pending set + (domain, crawl_delay) dim → + (domain,
    fetch_rank, scheduled_offset_sec). Deterministic: rank by url within
    domain. Domains absent from the dim get delay 0 (the reference
    default)."""
    f = frontier.withColumn("domain", domain_col())
    joined = f.join(F.broadcast(delays), "domain", "left").withColumn(
        "crawl_delay", F.coalesce(F.col("crawl_delay"), F.lit(0.0))
    )
    w = Window.partitionBy("domain").orderBy("url")
    return (
        joined.withColumn("fetch_rank", F.row_number().over(w))
        .withColumn(
            "scheduled_offset_sec",
            ((F.col("fetch_rank") - 1) * F.col("crawl_delay")).cast("double"),
        )
    )


def cache_policy(headers: DataFrame, default_ttl: int = 86400) -> DataFrame:
    """HTTP cache-policy TTL for recrawl scheduling (RFC 9111
    precedence): per fetched page, how long its response said it stays
    fresh — the server-declared signal a recrawl scheduler (q95's
    priority model) should trust before estimating change rates.

    Input columns: ``cache_control`` (raw header, '' if absent),
    ``expires_delta_s`` (Expires minus Date in seconds, NULL if
    either header absent — computed upstream where the raw dates
    live), plus url + fetch timestamp. Precedence:

    1. ``no-store`` / ``no-cache`` / ``max-age=0`` → ttl 0 (always
       revalidate),
    2. ``max-age=N`` (also ``s-maxage``) → N,
    3. the Expires delta when positive,
    4. ``default_ttl`` (crawlers assume ~a day when servers say
       nothing).

    Output: ``(url, ttl_s, recrawl_after, has_validator)`` —
    ``has_validator`` flags ETag/Last-Modified presence, i.e. the
    page supports cheap conditional revalidation (304s) even at
    ttl 0. Pure codegen: regexp + timestamp arithmetic, a Project on
    the fetch-log stream."""
    cc = F.lower(F.coalesce(F.col("cache_control"), F.lit("")))
    no_cache = (
        cc.contains("no-store") | cc.contains("no-cache")
        | cc.rlike(r"(^|[,\s])max-age=0($|[,\s])")
    )
    max_age = F.regexp_extract(cc, r"(?:^|[,\s])max-age=(\d+)", 1) \
        .try_cast("bigint")
    s_maxage = F.regexp_extract(cc, r"(?:^|[,\s])s-maxage=(\d+)", 1) \
        .try_cast("bigint")
    exp = F.col("expires_delta_s").cast("bigint")
    ttl = (
        F.when(no_cache, F.lit(0))
        .when(s_maxage.isNotNull(), s_maxage)
        .when(max_age.isNotNull(), max_age)
        .when(exp.isNotNull() & (exp > 0), exp)
        .otherwise(F.lit(int(default_ttl)))
    ).cast("bigint")
    has_val = (
        (F.coalesce(F.col("etag"), F.lit("")) != "")
        | (F.coalesce(F.col("last_modified"), F.lit("")) != "")
    )
    return headers.select(
        F.col("url"),
        ttl.alias("ttl_s"),
        (F.col("fetch_ts").cast("long") + ttl).cast("long")
        .alias("recrawl_after"),
        F.when(has_val, 1).otherwise(0).cast("int")
        .alias("has_validator"),
    )


def apportion_budget(weights, total_budget: int):
    """INTEGER budget apportionment by the largest-remainder (Hamilton)
    method: split ``total_budget`` fetch slots across hosts
    proportionally to ``weight`` (e.g. the summed change rates from
    change_rate_schedule/q328) such that allocations are integers,
    sum EXACTLY to the budget, and the rounding is the canonical
    fair one — floor every quota, then hand the leftover slots to
    the largest fractional remainders (ties by key ascending,
    deterministic). Output: ``(key, weight, quota_floor, extra,
    budget)``.

    Why not proportional-floats: a scheduler needs integers that sum
    to the fleet's exact capacity; naive rounding over- or
    under-subscribes by up to n_hosts/2 slots. Shape: one 1-row
    total (broadcast), per-row integer quota arithmetic, and the
    remainder ranking via DISTRIBUTED order statistics — remainders
    hash into 256 range buckets, a bucket-PARTITIONED row_number
    ranks within buckets, and global ranks come from broadcast
    bucket-offset prefix sums (the only unpartitioned window in the
    plan is over the ≤256-row bucket dim). No global sort of the
    host dim; the page table is never touched."""
    from pyspark.sql import Window, functions as F

    b = int(total_budget)
    nb = 256
    # zero/negative weights carry no claim and would null the integer
    # division when they were ALL of the input — dropped, documented
    w = weights.select(
        F.col("host").alias("key"),
        F.col("weight").cast("long").alias("weight"),
    ).filter(F.col("weight") > 0)
    tot = w.agg(F.sum("weight").alias("_tw"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "key", "weight",
        F.expr(f"{b}L * weight div _tw").alias("quota_floor"),
        F.expr(f"({b}L * weight) % _tw").alias("_rem"),
        F.expr(f"(({b}L * weight) % _tw) * {nb}L div _tw")
        .alias("_bkt"),
    )
    # bucket offsets: how many remainders live in HIGHER buckets —
    # a <=nb-row dim, windowed there (bounded by construction)
    bkt_counts = q.groupBy("_bkt").agg(F.count("*").alias("_n"))
    off_win = Window.orderBy(F.desc("_bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bkt_counts.select(
        "_bkt",
        F.coalesce(F.sum("_n").over(off_win), F.lit(0)).alias("_off"),
    )
    in_bkt = Window.partitionBy("_bkt").orderBy(
        F.desc("_rem"), F.asc("key")
    )
    ranked = (
        q.join(F.broadcast(offsets), "_bkt")
        .select(
            "key", "weight", "quota_floor",
            (F.col("_off") + F.row_number().over(in_bkt)).alias("_rk"),
        )
    )
    total_floor = q.agg(
        (F.lit(b) - F.sum("quota_floor")).cast("long").alias("_extra")
    )
    return (
        ranked.crossJoin(F.broadcast(total_floor))
        .select(
            F.col("key").alias("host"), "weight", "quota_floor",
            F.when(F.col("_rk") <= F.col("_extra"), 1).otherwise(0)
            .cast("int").alias("extra"),
            (F.col("quota_floor")
             + F.when(F.col("_rk") <= F.col("_extra"), 1).otherwise(0))
            .cast("long").alias("budget"),
        )
    )
