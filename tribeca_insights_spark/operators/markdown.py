"""Markdown-conversion operator: pages → structure-preserving Markdown.

Arrow-batched wrapper over ``htmlx/markdown.py`` — same Scan →
ArrowEvalPython → Project shape as every extractor (one walker pass per
page, zero shuffle). The Markdown string is a per-row value; downstream
tokenization/TF over it reuses the ordinary token path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType

from ..htmlx.markdown import html_to_markdown
from .extract import html_udf


def pages_to_markdown(docs: DataFrame) -> DataFrame:
    """(…, html) → (…, markdown): headings/lists/links/images preserved
    as Markdown, chrome subtrees (head/script/style) dropped."""
    return docs.withColumn(
        "markdown", html_udf(docs, html_to_markdown, StringType())
    )
