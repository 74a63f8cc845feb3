"""End-to-end resumable extraction pipeline (north_rule).

One run = anti-join the input against the done set → extract (single parse
per page, Arrow-batched, with per-partition metrics collected IN the same
pass) → write output partitioned by url-hash bucket → append log → append
metrics. Idempotent: re-running with the same input processes zero pages;
killed-between-writes replays are absorbed by read-side last-wins dedup
(one Iceberg transaction in production — see plans/state.py).

Partitioning: ``bucket = pmod(xxhash64(url), n_buckets)`` — the explicit
url-hash partitioning of the north_star. Skew handling for hot *domains*
lives in the aggregation layer (operators/tf.py) where the skew actually
bites; extraction itself is per-row and needs none.
"""

from __future__ import annotations

import time
import uuid
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.extract import _charset_expr, _extract_batch
from ..schemas import EXTRACT_STRUCT
from . import state as st

EXTRACT_OUT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("lang", StringType()),
        *EXTRACT_STRUCT.fields,
        StructField("bucket", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("bytes_in", LongType()),
        StructField("wall_ms", LongType()),
    ]
)


def _extract_partitions(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas iterator: extraction + in-pass metrics columns. The
    partition's wall clock accumulates across batches, so max(wall_ms) per
    partition ≈ the partition's total extraction time."""
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId() if TaskContext.get() else -1
    t0 = time.time()
    for pdf in it:
        ex = _extract_batch(pdf["url"], pdf["html"], pdf["lang"],
                            pdf["charset"])
        ex.insert(0, "url", pdf["url"].values)
        ex.insert(1, "warc_ts", pdf["warc_ts"].values)
        ex.insert(2, "lang", pdf["lang"].values)
        ex["bucket"] = pdf["bucket"].values
        ex["partition_id"] = pid
        ex["bytes_in"] = [len(h) if h is not None else 0 for h in pdf["html"]]
        ex["wall_ms"] = int((time.time() - t0) * 1000)
        yield ex


def _extract_pending(todo: DataFrame) -> DataFrame:
    """todo(url, warc_ts, html, lang, bucket[, charset]) → EXTRACT_OUT_SCHEMA
    rows, one parse per page; a declared ``charset`` column rides along
    (NULL when the input has none)."""
    return todo.select(
        "url", "warc_ts", "html", "lang", "bucket",
        _charset_expr(todo).alias("charset"),
    ).mapInPandas(_extract_partitions, schema=EXTRACT_OUT_SCHEMA)


def _partition_metrics(written: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage + metrics rows of one run's written output."""
    return (
        written.groupBy("partition_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(
                    (F.length("text") == 0) & (F.col("bytes_in") > 0), 1
                ).otherwise(0)
            ).alias("n_empty"),
            F.sum("bytes_in").alias("bytes_in"),
            F.max("wall_ms").alias("wall_ms"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id").cast("int"),
            F.col("n_docs").cast("long"),
            F.col("n_empty").cast("long"),
            F.col("bytes_in").cast("long"),
            F.col("wall_ms").cast("long"),
            "min_url",
            "max_url",
        )
    )


def _log_entries(written: DataFrame, run_id: str, seq: int) -> DataFrame:
    """Crawl-state log rows (status 1 = done) for one run's written output."""
    return written.select(
        "url",
        F.lit(1).alias("status"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd").alias("processed_at"),
        F.col("bucket").cast("int").alias("bucket"),
        F.lit(run_id).alias("run_id"),
        F.lit(seq).cast("long").alias("seq"),
    )


def _run_stats(run_id: str, n: int, t0: float) -> dict:
    """The stats dict an extraction run returns."""
    return {
        "run_id": run_id,
        "n_processed": n,
        "wall_sec": round(time.time() - t0, 3),
        "docs_per_sec": round(n / max(time.time() - t0, 1e-9), 1),
    }


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    run_id: Optional[str] = None,
    n_buckets: int = 64,
    reconcile_first: bool = True,
    repartition_by_bucket: bool = False,
    bucket_expr=None,
) -> dict:
    """Execute one resumable extraction run; returns run stats.

    ``repartition_by_bucket`` shuffles the pending set onto its url-hash
    buckets before extraction, so each task owns whole buckets (one output
    file per bucket, per-bucket metrics rows). Default off: in production
    the Iceberg scan is already bucket-partitioned and the shuffle of raw
    html bytes is wasted work; without it each task may write several
    bucket files (small-files tradeoff handled by table compaction).

    ``bucket_expr`` overrides the default ``pmod(xxhash64(url), n_buckets)``
    bucket column (e.g. a closed-form id-derived bucket so an external SQL
    oracle can state per-bucket metrics)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    if reconcile_first:
        st.reconcile(spark, root)

    if bucket_expr is None:
        bucket_expr = F.pmod(F.xxhash64("url"), F.lit(n_buckets))
    todo = st.pending(docs, spark, root).withColumn(
        "bucket", bucket_expr.cast("int")
    )
    if repartition_by_bucket:
        todo = todo.repartition(n_buckets, "bucket")

    t0 = time.time()
    out = _extract_pending(todo).withColumn("run_id", F.lit(run_id))

    # 1) output (partitioned by bucket)
    out.write.mode("append").partitionBy("bucket").parquet(f"{root}/extracted")

    # 2) log — derived from the WRITTEN output (not the plan), so a row is
    #    marked done only if its output row exists
    written = spark.read.parquet(f"{root}/extracted").filter(
        F.col("run_id") == run_id
    )
    st.append_log(
        spark, root, _log_entries(written, run_id, st.next_seq(spark, root))
    )

    # 3) per-partition lineage + metrics
    st.append_metrics(spark, root, _partition_metrics(written, run_id))

    return _run_stats(run_id, written.count(), t0)
