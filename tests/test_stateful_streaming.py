"""Cross-micro-batch stateful dedup (streaming/stateful.py)."""

import os
import time

from pyspark.sql import functions as F

from tribeca_insights_spark.schemas import DOCS_SCHEMA
from tribeca_insights_spark.streaming.stateful import dedup_first_seen


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, DOCS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_first_seen_dedup_across_batches(spark, tmp_path):
    from datetime import datetime

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def row(url, sec):
        return {
            "url": url,
            "warc_ts": datetime(2026, 1, 1, 0, 0, sec),
            "html": b"<p>x</p>",
            "text": "",
            "lang": "en",
        }

    # batch files written before the stream starts; maxFilesPerTrigger=1
    # under availableNow => one micro-batch per file, so url B recurs
    # ACROSS batches and must be suppressed by state, not batch-local dedup
    _write_batch(spark, src, [row("https://a.com/A", 1), row("https://a.com/B", 2)])
    _write_batch(spark, src, [row("https://a.com/B", 3), row("https://a.com/C", 4)])
    _write_batch(spark, src, [row("https://a.com/C", 5), row("https://a.com/C", 6)])

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_first_seen(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {"https://a.com/A", "https://a.com/B", "https://a.com/C"}
    # first occurrence timestamp wins
    assert got["https://a.com/B"]["first_ts"].second in (2, 3)
    # restart on the same checkpoint: no new files => no duplicate emits
    q2 = (
        dedup_first_seen(
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3


def test_first_seen_ttl_evicts_and_reemits(spark, tmp_path):
    """ttl_ms: state for a url is dropped after the processing-time TTL and
    a later re-arrival EMITS AGAIN (documented at-least-once-per-TTL mode —
    the bounded-state configuration for open-ended streams). Batch layout:
    X | filler (X's state times out here) | X again → X emitted twice."""
    from datetime import datetime

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def row(url, sec):
        return {
            "url": url,
            "warc_ts": datetime(2026, 1, 1, 0, 0, sec),
            "html": b"<p>x</p>",
            "text": "",
            "lang": "en",
        }

    _write_batch(spark, src, [row("https://a.com/X", 1)])
    _write_batch(spark, src, [row("https://a.com/filler", 2)])
    _write_batch(spark, src, [row("https://a.com/X", 3)])

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_first_seen(stream, ttl_ms=1)  # micro-batch gaps >> 1 ms
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # a processing-time timeout runs a batch on every trigger, so this
        # AvailableNow query never goes idle or terminates on its own: wait
        # for the batches that read the three input rows, then stop it
        deadline = time.monotonic() + 120
        while (q.isActive and time.monotonic() < deadline
               and sum(p["numInputRows"] for p in q.recentProgress) < 3):
            time.sleep(0.1)
    finally:
        q.stop()

    rows = spark.read.parquet(out).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    # X re-emitted after eviction; each emission is its batch's first row
    assert len(by_url["https://a.com/X"]) == 2
    assert sorted(r["first_ts"].second for r in by_url["https://a.com/X"]) \
        == [1, 3]
    assert len(by_url["https://a.com/filler"]) == 1
