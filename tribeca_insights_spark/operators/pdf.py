"""PDF text-extraction operator (north_rule: "PDF/layout parse") —
Arrow-batched, same plan shape as the HTML extractors: Scan →
ArrowEvalPython → Project, no shuffle."""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType


def _b(v: Optional[object]) -> bytes:
    if v is None:
        return b""
    return bytes(v)


def _pdf_text_batch(pdf: pd.Series) -> pd.Series:
    from ..htmlx.pdfx import extract_pdf_text

    return pd.Series([extract_pdf_text(_b(p)) for p in pdf])


pdf_text_udf = pandas_udf(_pdf_text_batch, returnType=StringType())


def _make_pdf_batch(text: pd.Series, compress: pd.Series) -> pd.Series:
    from ..htmlx.pdfx import make_pdf

    return pd.Series(
        [
            make_pdf((t or "").split("\n"), compress=bool(c))
            for t, c in zip(text, compress)
        ]
    )


make_pdf_udf = pandas_udf(_make_pdf_batch, returnType=BinaryType())


def extract_pdf_pages(docs: DataFrame) -> DataFrame:
    """(…, pdf binary) → (…, pdf_text string)."""
    return docs.withColumn("pdf_text", pdf_text_udf(F.col("pdf")))


def _pdf_layout_batch(pdf: pd.Series) -> pd.Series:
    from ..htmlx.pdfx import extract_pdf_text_layout

    return pd.Series([extract_pdf_text_layout(_b(p)) for p in pdf])


pdf_layout_udf = pandas_udf(_pdf_layout_batch, returnType=StringType())


def extract_pdf_layout_pages(docs: DataFrame) -> DataFrame:
    """(…, pdf binary) → (…, pdf_layout_text string): column-major
    reading order recovered from Tm/Td/TD/T* positions (htmlx/pdfx.py
    extract_pdf_text_layout) — multi-column pages read left column
    top-down first, regardless of content-stream emission order."""
    return docs.withColumn("pdf_layout_text", pdf_layout_udf(F.col("pdf")))


def _make_pdf_columns_batch(col1: pd.Series, col2: pd.Series,
                            compress: pd.Series) -> pd.Series:
    from ..htmlx.pdfx import make_pdf_columns

    return pd.Series(
        [
            make_pdf_columns(
                [(a or "").split("\n"), (b or "").split("\n")],
                compress=bool(c),
            )
            for a, b, c in zip(col1, col2, compress)
        ]
    )


make_pdf_columns_udf = pandas_udf(
    _make_pdf_columns_batch, returnType=BinaryType()
)
