"""Canonical schemas (SURVEY.md §1).

Input (BASELINE.json input_hint): Common-Crawl-style pages table
``(url string, warc_ts timestamp, html binary, text string, lang string)``
— Iceberg in production, plain parquet in this sandbox (no Iceberg runtime
jars here; the state/lineage layer in plans/state.py keeps Iceberg-shaped
semantics so the swap is a table-format change, not a redesign).

Output: ``page_data`` per-page analysis record (reference
crawler.py:163-175, SURVEY.md §1.1).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DOCS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

# Struct returned by the extraction pandas UDF — one parse per page, every
# output at once (SURVEY.md §2.2 O1, O4-O11).
EXTRACT_STRUCT = StructType(
    [
        StructField("text", StringType()),
        StructField("title", StringType()),
        StructField("meta_description", StringType()),
        StructField("headings", ArrayType(StringType())),
        StructField(
            "images",
            ArrayType(
                StructType(
                    [StructField("src", StringType()), StructField("alt", StringType())]
                )
            ),
        ),
        StructField("external_links", ArrayType(StringType())),
        StructField("internal_links", ArrayType(StringType())),
        StructField("slug", StringType()),
        StructField("page_hash", StringType()),
        # tokens joined with " " — lossless (tokens cannot contain spaces);
        # the ONLY token representation crossing Arrow: exploding/splitting
        # split(tokens_str, ' ') [literal, codegen] is near-free JVM-side,
        # while shipping a redundant array<string> alongside measurably
        # slows the full-extraction path (Arrow child-array overhead)
        StructField("tokens_str", StringType()),
        StructField("word_count", IntegerType()),
        # per-page TF as compact JSON text: Arrow map serialization (two
        # child arrays + offsets per row) measurably drags the whole batch;
        # a single JSON string crosses cheap and from_json() rebuilds the
        # MapType lazily — consumers that never touch it (TF pipelines)
        # get it pruned away entirely by Catalyst
        StructField("wf_json", StringType()),
        # SEO extension fields (canonical/og_*/meta_robots/twitter_*/
        # hreflang — reference template keys it never computes) as ONE
        # compact JSON string for the same Arrow-cost reason as wf_json;
        # rebuilt JVM-side via from_json(SEO_STRUCT) and Catalyst-pruned
        # for consumers that never touch it
        StructField("seo_json", StringType()),
    ]
)

WORD_FREQUENCY_TYPE = MapType(StringType(), IntegerType())

# JVM-side shape of the seo_json payload (extract_pages' `seo` column).
SEO_STRUCT = StructType(
    [
        StructField("canonical", StringType()),
        StructField("og_title", StringType()),
        StructField("og_description", StringType()),
        StructField("og_image", StringType()),
        StructField("og_url", StringType()),
        StructField("meta_robots", StringType()),
        StructField("twitter_title", StringType()),
        StructField("twitter_description", StringType()),
        StructField("twitter_image", StringType()),
        StructField(
            "hreflang",
            ArrayType(
                StructType(
                    [
                        StructField("hreflang", StringType()),
                        StructField("href", StringType()),
                    ]
                )
            ),
        ),
    ]
)

# Crawl/extract state table (reference visited_urls CSV, storage.py:65;
# SURVEY.md §1.2): Status 2=pending, 1=done.
STATE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", IntegerType()),
        StructField("processed_at", StringType()),  # %Y-%m-%d, crawler.py:256
        StructField("bucket", IntegerType()),
        StructField("run_id", StringType()),
    ]
)

# Per-partition extraction metrics / lineage (north_rule).
METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("n_docs", LongType()),
        StructField("n_failed", LongType()),
        StructField("bytes_in", LongType()),
        StructField("wall_ms", LongType()),
    ]
)
