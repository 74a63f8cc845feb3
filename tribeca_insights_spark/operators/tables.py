"""Table-extraction operator: pages → one row per ``<table>`` row.

Relational web extraction (WebTables, Cafarella 2008) over the same
Arrow-batched single-parse regime as the other extractors: the Python
stage is the pure ``htmlx/tables.py`` walker, the explode and any
downstream selection are JVM-side. The reference flattens tables into
word soup (crawler.py:163 ``get_text``); this recovers the structure.

Scale shape (100 TB): Scan → ArrowEvalPython → Generate(explode) →
Project — no shuffle; the explode widens rows in place (a page's table
rows stay in its input partition). Corpus-level table analyses
(schema clustering, column-type stats) hang partial-agg groupBys off
``table_rows`` exactly like corpus TF.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..htmlx.tables import extract_tables
from .extract import html_udf

TABLE_ROWS_TYPE = ArrayType(
    StructType(
        [
            StructField("table_idx", IntegerType()),
            StructField("row_idx", IntegerType()),
            StructField("cells", ArrayType(StringType())),
        ]
    )
)


def _table_rows_of(html: str) -> List[tuple]:
    return [
        (ti, ri, cells)
        for ti, rows in enumerate(extract_tables(html))
        for ri, cells in enumerate(rows)
    ]


def table_rows(docs: DataFrame) -> DataFrame:
    """(…, html) → one output row per table row:
    ``(…, table_idx, row_idx, cells array<string>)`` — tables in document
    order, rows/cells in table order, browser-shaped recovery for
    unclosed markup (htmlx/tables.py)."""
    keep = [c for c in docs.columns if c != "html"]
    # explode_outer + post-filter, NOT explode: InferFiltersFromGenerate
    # turns a plain explode over a UDF-backed column into a
    # `size(udf(...)) > 0` pre-filter that re-runs the Python walker —
    # 2× the Arrow stage (observed: two ArrowEvalPython nodes). The
    # outer variant infers no such filter; dropping the null rows after
    # the Generate is JVM-side and keeps the parse single-pass.
    return (
        docs.withColumn(
            "_trows", html_udf(docs, _table_rows_of, TABLE_ROWS_TYPE)
        )
        .select(*keep, F.explode_outer("_trows").alias("r"))
        .filter(F.col("r").isNotNull())
        .select(
            *keep,
            F.col("r.table_idx").alias("table_idx"),
            F.col("r.row_idx").alias("row_idx"),
            F.col("r.cells").alias("cells"),
        )
    )


def table_column_profile(rows: DataFrame) -> DataFrame:
    """WebTables-style column profiling (Cafarella et al., VLDB 2008
    §4 — the attribute statistics that make a web-table corpus
    queryable): over :func:`table_rows` output, per (doc, table,
    column): the header label, the MAJORITY value type among
    {int, float, date, string}, and the value count.

    Typing is codegen rlike; the majority pick is two partial-agg
    groupBys and a max(struct(cnt, type)) — ties break toward the
    lexicographically larger type name (deterministic, documented).
    Header = row 0; tables without data rows produce no profile rows.
    At corpus scale the (doc, table, col, type) key is doc-prefixed,
    so profiling co-locates with the extraction output.
    """
    cells = rows.select(
        "doc_id", "table_idx", "row_idx",
        F.posexplode("cells").alias("col_idx", "_cell"),
    )
    c = F.trim(F.col("_cell"))
    typ = (
        F.when(c.rlike(r"^-?\d+$"), F.lit("int"))
        .when(c.rlike(r"^-?\d+\.\d+$"), F.lit("float"))
        .when(c.rlike(r"^\d{4}-\d{2}-\d{2}$"), F.lit("date"))
        .otherwise(F.lit("string"))
    )
    data = cells.filter(F.col("row_idx") > 0).select(
        "doc_id", "table_idx", "col_idx", typ.alias("_t")
    )
    per_type = data.groupBy("doc_id", "table_idx", "col_idx", "_t").agg(
        F.count("*").alias("_n")
    )
    best = per_type.groupBy("doc_id", "table_idx", "col_idx").agg(
        F.max(F.struct(F.col("_n"), F.col("_t"))).alias("_b"),
        F.sum("_n").cast("bigint").alias("n_values"),
    )
    headers = cells.filter(F.col("row_idx") == 0).select(
        "doc_id", "table_idx", "col_idx", F.col("_cell").alias("header")
    )
    return (
        best.join(headers, ["doc_id", "table_idx", "col_idx"], "left")
        .select(
            "doc_id",
            F.col("table_idx").cast("int").alias("table_idx"),
            F.col("col_idx").cast("int").alias("col_idx"),
            F.coalesce("header", F.lit("")).alias("header"),
            F.col("_b._t").alias("col_type"),
            "n_values",
        )
    )
