"""Main-content extraction operator — Arrow-batched readability UDF.

The Spark surface for :mod:`..htmlx.readability` (north_star's
"link-density and text-density scoring, readability-style node
classification"): Scan → ArrowEvalPython → Project, no shuffle — identical
plan shape to the parity extractor, so the two can run fused in one pass
over the same scan when both outputs are wanted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..htmlx.readability import extract_main_content
from .extract import html_udf

MAIN_CONTENT_STRUCT = StructType(
    [
        StructField("main_text", StringType()),
        StructField("score", DoubleType()),
        StructField("link_density", DoubleType()),
        StructField("node_tag", StringType()),
        StructField("node_hint", StringType()),
    ]
)


def extract_main(docs: DataFrame) -> DataFrame:
    """docs(url, html, …) → (url, main_text, score, link_density,
    node_tag, node_hint)."""
    e = docs.withColumn(
        "_m", html_udf(docs, extract_main_content, MAIN_CONTENT_STRUCT)
    )
    return e.select(
        "url",
        F.col("_m.main_text").alias("main_text"),
        F.col("_m.score").alias("score"),
        F.col("_m.link_density").alias("link_density"),
        F.col("_m.node_tag").alias("node_tag"),
        F.col("_m.node_hint").alias("node_hint"),
    )
