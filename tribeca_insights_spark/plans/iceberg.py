"""Iceberg-proper state/output layer (north_rule: "over Iceberg tables").

This is the PRODUCTION form of :mod:`.state` / :mod:`.pipeline`: the
extraction output, the crawl-state log, and the per-partition metrics are
Iceberg tables; the state log is maintained with ``MERGE INTO`` (a real
upsert — no read-side last-wins view needed) and every table write is one
atomic snapshot commit. A killed run leaves either the previous snapshot
or the complete new one — nothing in between — which is exactly the
atomicity the parquet layer can only approximate (state.py:1-18).

Runtime gating: the sandbox image ships no Iceberg runtime jar and has no
network to fetch one, so everything here detects the catalog at runtime
(:func:`iceberg_available`) and raises :class:`IcebergUnavailable` with the
exact ``spark-submit`` configuration needed (:func:`catalog_conf`).
``tests/test_iceberg.py`` runs the full create→run→MERGE→resume cycle when
a jar is present and skips otherwise; the MERGE statement builders are
pure functions tested unconditionally.

Cluster usage::

    spark-submit \\
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
      $(python -c 'from tribeca_insights_spark.plans.iceberg import \\
                   catalog_conf_args; print(catalog_conf_args("/wh"))') \\
      job.py
"""

from __future__ import annotations

import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import (
    EXTRACT_OUT_SCHEMA,
    _extract_pending,
    _log_entries,
    _partition_metrics,
    _run_stats,
)

CATALOG = "ti"  # catalog name used throughout


class IcebergUnavailable(RuntimeError):
    pass


def catalog_conf(warehouse: str, catalog: str = CATALOG) -> dict:
    """SparkSession configs for a local Hadoop-backed Iceberg catalog."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def catalog_conf_args(warehouse: str, catalog: str = CATALOG) -> str:
    """The same configs as ``--conf`` CLI arguments (for spark-submit)."""
    return " ".join(
        f"--conf {k}={v}" for k, v in catalog_conf(warehouse, catalog).items()
    )


def iceberg_available(spark: SparkSession, catalog: str = CATALOG) -> bool:
    """True when the Iceberg runtime jar is on the classpath AND the
    session has the ``catalog`` configured."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — jar probe
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        return False
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


def _require(spark: SparkSession, catalog: str) -> None:
    if not iceberg_available(spark, catalog):
        raise IcebergUnavailable(
            "Iceberg runtime not on the classpath / catalog not configured; "
            "launch with: --packages org.apache.iceberg:iceberg-spark-"
            f"runtime-4.0_2.13:<ver> {catalog_conf_args('<warehouse>')}"
        )


# ---------------------------------------------------------------------------
# DDL / DML builders — pure functions (unit-testable without the jar)
# ---------------------------------------------------------------------------


def ddl_statements(db: str, catalog: str = CATALOG, n_buckets: int = 64):
    """CREATE statements for the three tables. The output table is
    partitioned by the url-hash ``bucket`` (the north_star partitioning);
    the log is bucket-partitioned on url so MERGE touches only matching
    files; metrics is small and unpartitioned. The output columns are
    :data:`~.pipeline.EXTRACT_OUT_SCHEMA` plus ``run_id``, so the table
    cannot drift from what the extraction writes."""
    q = f"{catalog}.{db}"
    extracted_cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in EXTRACT_OUT_SCHEMA.fields
    )
    return [
        f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{db}",
        f"""
        CREATE TABLE IF NOT EXISTS {q}.extracted (
          {extracted_cols}, run_id string
        ) USING iceberg PARTITIONED BY (bucket)
        """,
        f"""
        CREATE TABLE IF NOT EXISTS {q}.extract_log (
          url string, status int, processed_at string, bucket int,
          run_id string, seq bigint
        ) USING iceberg PARTITIONED BY (bucket({n_buckets}, url))
        """,
        f"""
        CREATE TABLE IF NOT EXISTS {q}.metrics (
          run_id string, partition_id int, n_docs bigint, n_empty bigint,
          bytes_in bigint, wall_ms bigint, min_url string, max_url string
        ) USING iceberg
        """,
    ]


def merge_log_sql(db: str, source_view: str, catalog: str = CATALOG) -> str:
    """MERGE INTO upsert for the crawl-state log: one CURRENT row per url
    (the Iceberg-native replacement for the append-log + read-side
    last-wins window of plans/state.py — reference Status semantics:
    1 = done, 2 = pending/reprocess)."""
    t = f"{catalog}.{db}.extract_log"
    return f"""
    MERGE INTO {t} t
    USING {source_view} s
    ON t.url = s.url
    WHEN MATCHED THEN UPDATE SET
      t.status = s.status, t.processed_at = s.processed_at,
      t.bucket = s.bucket, t.run_id = s.run_id, t.seq = s.seq
    WHEN NOT MATCHED THEN INSERT *
    """


def ensure_tables(spark: SparkSession, db: str, catalog: str = CATALOG,
                  n_buckets: int = 64) -> None:
    _require(spark, catalog)
    for stmt in ddl_statements(db, catalog, n_buckets):
        spark.sql(stmt)


def upsert_log(spark: SparkSession, db: str, entries: DataFrame,
               catalog: str = CATALOG) -> None:
    """Atomic MERGE of new log entries (one snapshot commit)."""
    _require(spark, catalog)
    view = f"_log_src_{uuid.uuid4().hex[:8]}"
    entries.createOrReplaceTempView(view)
    try:
        spark.sql(merge_log_sql(db, view, catalog))
    finally:
        spark.catalog.dropTempView(view)


def done_urls(spark: SparkSession, db: str, catalog: str = CATALOG) -> DataFrame:
    """status==1 urls — no dedup view needed: MERGE keeps one row per url."""
    return spark.table(f"{catalog}.{db}.extract_log").filter(
        F.col("status") == 1
    ).select("url")


def pending(docs: DataFrame, spark: SparkSession, db: str,
            catalog: str = CATALOG) -> DataFrame:
    return docs.join(done_urls(spark, db, catalog), "url", "left_anti")


def run_extraction_iceberg(
    spark: SparkSession,
    docs: DataFrame,
    db: str,
    run_id: Optional[str] = None,
    n_buckets: int = 64,
    catalog: str = CATALOG,
) -> dict:
    """One resumable extraction run against Iceberg tables.

    Same dataflow as plans/pipeline.run_extraction (anti-join pending →
    mapInPandas extract with in-pass metrics → bucket-partitioned output),
    but each write is an atomic Iceberg snapshot commit and the state log
    is a MERGE upsert: a crash between the output append and the log MERGE
    re-extracts at most one run's urls (output rows are run_id-tagged;
    re-runs MERGE the same urls to done — idempotent)."""
    _require(spark, catalog)
    run_id = run_id or uuid.uuid4().hex[:12]
    ensure_tables(spark, db, catalog, n_buckets)

    todo = pending(docs, spark, db, catalog).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )
    t0 = time.time()
    out = _extract_pending(todo).withColumn("run_id", F.lit(run_id))

    q = f"{catalog}.{db}"
    out.writeTo(f"{q}.extracted").append()  # snapshot commit #1

    written = spark.table(f"{q}.extracted").filter(F.col("run_id") == run_id)
    log_entries = _log_entries(written, run_id, int(time.time()))
    upsert_log(spark, db, log_entries, catalog)  # snapshot commit #2 (MERGE)

    metrics = _partition_metrics(written, run_id)
    metrics.writeTo(f"{q}.metrics").append()  # snapshot commit #3

    return _run_stats(run_id, written.count(), t0)
