"""Section-tree extraction: pages → content blocks with their heading
breadcrumb path.

Document-outline assignment (the HTML5 outline algorithm's useful core,
and what readability-style chunkers feed RAG/section-aware training
pipelines): every non-heading content block is attributed to the
heading stack governing it — ``h2`` opens a subsection under the last
``h1``, a later ``h2`` replaces its sibling, ``h3`` nests below, and
content before any heading belongs to the root (empty path). The
reference flattens headings into prefix-decorated strings
(`/root/reference/tribeca_insights/crawler.py:73-76` keeps
``"## text"`` lines with no block attribution); this recovers the tree
relation those lines only hint at.

Built ON the block walker (htmlx/blocks.py segment_blocks — same
single-parse Arrow regime as every extractor): the heading-stack fold
runs inside the same Python batch that already walked the page, so the
structure costs zero extra passes. Plan shape (100 TB): Scan →
ArrowEvalPython → Generate(explode) → Project — no shuffle; a page's
sections stay in its input partition, and corpus-level section
analytics (per-path stats, depth histograms) hang partial-agg groupBys
off the output exactly like corpus TF.
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

from ..htmlx.blocks import segment_blocks
from .extract import html_udf

_H_LEVELS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}

SECTIONS_TYPE = ArrayType(
    StructType(
        [
            StructField("block_idx", IntegerType()),
            StructField("depth", IntegerType()),
            StructField("section_path", StringType()),
            StructField("text", StringType()),
        ]
    )
)


def _sections_of(html: str) -> List[tuple]:
    stack: List[tuple] = []  # (level, title)
    out: List[tuple] = []
    for b in segment_blocks(html):
        lvl = _H_LEVELS.get(b.tag)
        if lvl is not None and b.is_heading:
            while stack and stack[-1][0] >= lvl:
                stack.pop()
            stack.append((lvl, b.text))
        else:
            out.append(
                (
                    b.idx,
                    len(stack),
                    " > ".join(t for _, t in stack),
                    b.text,
                )
            )
    return out


def section_tree(docs: DataFrame) -> DataFrame:
    """One row per non-heading content block:
    ``(…carried cols…, block_idx, depth, section_path, text)``.

    ``section_path`` joins the governing heading titles root-first with
    ``" > "``; ``depth`` is the heading-stack size (0 = content before
    any heading). ``block_idx`` is the walker's document-order block
    index, so joins back to span/boilerplate views line up.
    """
    carried = [c for c in docs.columns if c != "html"]
    sections = html_udf(docs, _sections_of, SECTIONS_TYPE)
    return (
        docs.select(*carried, F.explode(sections).alias("_s"))
        .select(
            *carried,
            F.col("_s.block_idx").alias("block_idx"),
            F.col("_s.depth").alias("depth"),
            F.col("_s.section_path").alias("section_path"),
            F.col("_s.text").alias("text"),
        )
    )
