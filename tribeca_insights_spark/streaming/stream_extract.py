"""Structured Streaming extraction (SURVEY.md §2.4 noted the reference has
no streaming; this is the streaming re-expression of the same pipeline for
continuously-arriving crawl data).

* :func:`stream_extract` — file-source stream of docs parquet → the SAME
  extraction UDF → append sink with checkpointing. Exactly-once via the
  sink's checkpoint/WAL; resume semantics come from the stream checkpoint
  rather than the batch log table.
* :func:`stream_windowed_tf` — event-time windowed token counts with a
  watermark for late pages (update mode), the streaming form of corpus TF.

Both run under ``Trigger.AvailableNow`` in tests (bounded drain of whatever
is in the source) — the same code runs unbounded in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import extract_pages
from ..schemas import DOCS_SCHEMA


def read_docs_stream(spark: SparkSession, src_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    r = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)


def extracted_stream(docs_stream: DataFrame) -> DataFrame:
    return extract_pages(docs_stream).select(
        "url", "warc_ts", "lang", "text", "title", "slug", "page_hash",
        "tokens_str", "word_count",
    )


def stream_extract(spark: SparkSession, src_dir: str, out_dir: str,
                   checkpoint_dir: str, available_now: bool = True):
    """Stream docs → extracted parquet with checkpointed exactly-once sink."""
    q = (
        extracted_stream(read_docs_stream(spark, src_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()


def stream_windowed_tf(spark: SparkSession, src_dir: str,
                       window: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Event-time windowed corpus TF with late-data watermark: returns the
    streaming DataFrame (attach your sink; tests drain to memory)."""
    ex = extracted_stream(read_docs_stream(spark, src_dir))
    words = ex.withWatermark("warc_ts", watermark).select(
        "warc_ts", F.explode(F.split("tokens_str", " ", -1)).alias("word")
    ).filter(F.length("word") > 0)
    return words.groupBy(
        F.window("warc_ts", window).alias("w"), "word"
    ).agg(F.count("*").alias("freq")).select(
        F.col("w.start").alias("window_start"), "word", "freq"
    )


DOC_TF_SCHEMA = "doc_id bigint, warc_ts timestamp, text string, lang string"


def stream_windowed_doc_tf(spark: SparkSession, src_dir: str,
                           window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Event-time WINDOWED corpus TF over a document stream with a
    late-data watermark — the brief's "watermarks + windowed aggs for
    late data" shape over the reference's own tokenizer. Tokenization is
    the native broadcast-stopword path (functions/tokenize.with_tokens —
    no Python worker in the stream), so the stateful windowed groupBy is
    the only stateful operator. Returns the streaming DataFrame
    ``(window_start:string, word, freq)``; attach a sink (tests and q102
    drain complete-mode to memory under Trigger.AvailableNow; production
    runs update mode unbounded where the watermark actually expires
    window state and drops late rows)."""
    from ..functions.tokenize import with_tokens

    s = spark.readStream.schema(DOC_TF_SCHEMA).parquet(src_dir)
    t = with_tokens(s).withWatermark("warc_ts", watermark)
    words = t.select("warc_ts", F.explode("tokens").alias("word"))
    return (
        words.groupBy(F.window("warc_ts", window).alias("w"), "word")
        .agg(F.count("*").alias("freq"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "word",
            "freq",
        )
    )


def stream_stream_join(spark: SparkSession, pages_dir: str,
                       annots_dir: str, max_lag: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Watermarked STREAM-STREAM inner join: a fetch stream
    ``(doc_id, fetch_ts)`` joined with an asynchronous annotation
    stream ``(doc_id, score_ts, score)`` — the "pages meet their
    quality scores as both arrive" shape a live curation pipeline
    runs. Spark buffers each side in join state; the time-range
    predicate ``fetch_ts <= score_ts <= fetch_ts + max_lag`` plus the
    watermarks lets it EXPIRE state (without the range bound the state
    grows forever — the documented stream-stream-join trap). Late or
    slow annotations beyond ``max_lag`` are dropped by construction.
    Returns ``(doc_id, fetch_ts, score_ts, lag_min, score)`` with
    timestamps formatted as strings (timezone-proof compare); attach
    an append-mode sink (stream-stream inner joins only support
    append)."""
    pages = spark.readStream.schema(
        "doc_id bigint, fetch_ts timestamp"
    ).parquet(pages_dir).withWatermark("fetch_ts", watermark)
    annots = spark.readStream.schema(
        "doc_id bigint, score_ts timestamp, score bigint"
    ).parquet(annots_dir).withWatermark("score_ts", watermark)
    j = pages.join(
        annots,
        [
            pages.doc_id == annots.doc_id,
            F.col("score_ts") >= F.col("fetch_ts"),
            F.col("score_ts")
            <= F.col("fetch_ts") + F.expr(f"INTERVAL {max_lag}"),
        ],
        "inner",
    )
    return j.select(
        pages.doc_id.alias("doc_id"),
        F.date_format("fetch_ts", "yyyy-MM-dd HH:mm:ss").alias("fetch_ts"),
        F.date_format("score_ts", "yyyy-MM-dd HH:mm:ss").alias("score_ts"),
        (
            (F.unix_timestamp("score_ts") - F.unix_timestamp("fetch_ts"))
            / F.lit(60)
        ).cast("long").alias("lag_min"),
        "score",
    )


def stream_session_windows(spark: SparkSession, src_dir: str,
                           gap: str = "30 minutes",
                           watermark: str = "2 hours") -> DataFrame:
    """Event-time SESSION windows per host: consecutive fetches from one
    host merge into a session while gaps stay under ``gap`` — the
    crawl-burst analysis (how long do we hammer a host, how many pages
    per burst) that tumbling windows cannot express. Stateful session
    merging is Spark's native ``session_window``; watermark bounds state
    exactly like the tumbling-window TF. Source: a ``(host string,
    warc_ts timestamp)`` stream (derive host upstream — e.g. a regexp
    over the page url). Returns
    ``(host, session_start, session_end, n_pages)`` with the bounds
    formatted as strings (timezone-normalization-proof compare)."""
    s = spark.readStream.schema(
        "host string, warc_ts timestamp"
    ).parquet(src_dir)
    w = s.withWatermark("warc_ts", watermark)
    return (
        w.groupBy(F.session_window("warc_ts", gap).alias("sw"), "host")
        .agg(F.count("*").alias("n_pages"))
        .select(
            "host",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_pages",
        )
    )


def stream_dedup_gate(
    docs_stream: DataFrame,
    index: DataFrame,
    n_hashes: int = 12,
    rows_per_band: int = 3,
    k: int = 12,
) -> DataFrame:
    """Near-dup gate AT INGEST: a streaming docs source is verdict-ed
    against a PERSISTED MinHash band index from previous runs — the
    streaming form of operators/dedup.dedup_against_index (q106), i.e.
    RefinedWeb-style incremental dedup running continuously instead of
    per-batch.

    The whole signature/band computation is the row-local expression
    ``minhash_band_structs`` (zero Exchange — and the reason this is
    streamable at all: Structured Streaming cannot chain the batch
    path's shingle groupBy before another stateful op). The plan is
    then exactly two steps: a stream-STATIC left equi-join on
    (band, band_key) — the static side is the index, broadcastable
    when it's a run-shard, bucket-joinable when it's the full corpus
    index — and ONE streaming aggregation min(old_id) per doc.
    Returns (id, is_dup, matched_old_id); complete/update output mode,
    drained with Trigger.AvailableNow in tests. Every input doc emits
    a verdict row — empty docs carry a NULL-key sentinel band that can
    never match.
    """
    from ..operators.dedup import minhash_band_structs

    bands = docs_stream.select(
        F.col("doc_id"),
        F.explode(
            minhash_band_structs(
                "tok_str", n_hashes=n_hashes,
                rows_per_band=rows_per_band, k=k,
            )
        ).alias("_e"),
    ).select("doc_id", F.col("_e.band").alias("band"),
             F.col("_e.band_key").alias("band_key"))
    idx = index.select(
        F.col("doc_id").alias("_old_id"), "band", "band_key"
    )
    j = bands.join(idx, ["band", "band_key"], "left")
    return (
        j.groupBy("doc_id")
        .agg(F.min("_old_id").alias("matched_old_id"))
        .select(
            "doc_id",
            F.col("matched_old_id").isNotNull().alias("is_dup"),
            "matched_old_id",
        )
    )
