"""Join strategies Spark doesn't ship natively, built scale-first.

``bucketed_interval_join`` — the standard fix for range/interval joins,
which Catalyst otherwise plans as BroadcastNestedLoop (quadratic): map both
sides onto coarse time buckets, EQUI-join on (keys…, bucket), then refine
with the exact range predicate. A window spanning k buckets explodes into
k rows (k is bounded by interval/bucket_secs — pick the bucket near the
typical interval length); each event lands in exactly one bucket, so the
equi-join emits each true pair exactly once and no dedup is needed.
See also the as-of join (entry_queries.q60): union + window
last(ignorenulls) — zero inflation when the semantic is
"latest at-or-before" rather than "all in interval".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bucketed_interval_join(
    events: DataFrame,
    windows: DataFrame,
    keys,
    bucket_secs: int = 3600,
) -> DataFrame:
    """Rows of ``events`` matched to ``windows`` with
    ``start_ts <= ts < end_ts`` on equal ``keys`` — via a bucket equi-join,
    never a nested-loop theta join. Inner-match semantics only: an outer
    variant would need the range predicate inside the join condition (the
    post-join filter here would silently drop unmatched outer rows);
    outer-count use cases left-join the AGGREGATED result back instead."""
    keys = list(keys)
    # collision-safe bucket column: a caller-owned `_b` (or whatever we
    # pick) must never be silently overwritten then dropped.
    taken = set(events.columns) | set(windows.columns)
    bucket = "_b"
    while bucket in taken:
        bucket = "_" + bucket
    ev_epoch = F.unix_timestamp(F.col("ts"))
    w = windows.withColumn(
        bucket,
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col("start_ts")) / bucket_secs),
                F.floor(F.unix_timestamp(F.col("end_ts")) / bucket_secs),
            )
        ),
    )
    e = events.withColumn(bucket, F.floor(ev_epoch / bucket_secs))
    joined = e.join(w, [*keys, bucket]).filter(
        (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts"))
    )
    return joined.drop(bucket)


def salted_skew_join(
    big: DataFrame,
    dim: DataFrame,
    key: str,
    salt_source: str,
    n_salts: int = 8,
    hot_threshold: int = 1_000_000,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ dim`` on ``key`` with EXPLICIT hot-key salting —
    result identical to ``big.join(dim, key, how)``, but no single
    reducer ever owns a hot key's full row set.

    AQE's skew-join split only rebalances SORT-MERGE joins after a
    shuffle materializes; this operator is the classic pre-emptive form
    for when the dim side is too big to broadcast outright but hot-key
    replication is cheap:

    1. hot keys = big-side counts ≥ ``hot_threshold`` (a partial-agg
       groupBy — map-side combined, key-sized output), broadcast;
    2. big rows get salt = crc32(``salt_source``) % n_salts on hot keys,
       0 otherwise (deterministic — replay/resume stable, no rand());
    3. dim rows for hot keys are REPLICATED across all n_salts salts
       (explode of a literal sequence), others carry salt 0;
    4. equi-join on (key, salt): every big row meets its dim row in
       exactly one salt bucket, so no dedup and no lost/duplicated rows.

    Cost at 10^12 rows: dim inflation = n_hot_keys · n_salts rows —
    thousands, while the hot key's 10^9 big rows now spread over
    n_salts reducers instead of one. ``how`` supports inner/left (the
    dim side is replicated, so right/full outer would duplicate
    unmatched dim rows — rejected).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_skew_join supports inner/left only")
    if n_salts < 2:
        raise ValueError("n_salts must be >= 2")
    taken = set(big.columns) | set(dim.columns)
    salt = "_salt"
    while salt in taken:
        salt = "_" + salt
    hot = (
        big.groupBy(key)
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") >= hot_threshold)
        .select(key, F.lit(True).alias("_hot"))
    )
    b = (
        big.join(F.broadcast(hot), key, "left")
        .withColumn(
            salt,
            F.when(
                F.col("_hot").isNotNull(),
                F.crc32(F.col(salt_source).cast("string"))
                % F.lit(n_salts),
            ).otherwise(F.lit(0).cast("bigint")),
        )
        .drop("_hot")
    )
    d = (
        dim.join(F.broadcast(hot), key, "left")
        .withColumn(
            salt,
            F.explode(
                F.when(
                    F.col("_hot").isNotNull(),
                    F.sequence(
                        F.lit(0).cast("bigint"),
                        F.lit(n_salts - 1).cast("bigint"),
                    ),
                ).otherwise(F.array(F.lit(0).cast("bigint")))
            ),
        )
        .drop("_hot")
    )
    return b.join(d, [key, salt], how).drop(salt)


def write_bucketed(df: DataFrame, name: str, key: str, n_buckets: int,
                   path: str, sort: bool = True) -> None:
    """Persist ``df`` as a hash-BUCKETED (and bucket-sorted) external
    table: Spark's native bucketing (``bucketBy`` + ``sortBy`` +
    ``saveAsTable``) records the layout in the catalog, so every later
    equi-join or aggregation on ``key`` between same-bucketed tables
    plans WITHOUT an Exchange — the shuffle is paid once at write time,
    then amortized over every downstream read. This is the 100-TB
    recipe for a fact table that joins the same dimension key daily:
    co-locate once, join shuffle-free forever after (and ``sortBy``
    drops the per-join Sort too)."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    w.option("path", path).saveAsTable(name)


def bucketed_colocated_join(
    spark,
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_buckets: int,
    base_dir: str,
    names: tuple[str, str] = ("bj_left", "bj_right"),
) -> DataFrame:
    """Write both sides bucketed on ``key`` into ``base_dir`` and return
    their equi-join read back THROUGH the catalog (the bucketing
    metadata lives there, not in the parquet footers — reading the same
    files with ``spark.read.parquet`` would shuffle again). The caller
    owns dropping the tables. tests/test_plan_shapes.py pins the no-
    Exchange plan; the one-time write cost IS the join's shuffle, paid
    once."""
    ln, rn = names
    write_bucketed(left, ln, key, n_buckets, f"{base_dir}/{ln}")
    write_bucketed(right, rn, key, n_buckets, f"{base_dir}/{rn}")
    return spark.table(ln).join(spark.table(rn), key)
