"""Boilerplate removal / main-content extraction over segmented blocks.

The reference keeps the WHOLE page text (crawler.py:163 `get_text()` after
decomposing script/style/header/footer/nav); real training-data pipelines
instead classify text BLOCKS and keep main content only (jusText, Pomikálek
2011; trafilatura) — nav link farms and chrome otherwise dominate token
counts. This module is that tier: the Python stage is a pure block
segmenter (htmlx/blocks.py — one Arrow-batched parse per page, same
batching regime as operators/extract.py), and ALL classification runs
JVM-side as codegen'd array expressions over the returned block array, so
tuning the thresholds re-runs zero Python.

Classification rule (jusText-lite, deterministic):

    content(block)  ⇔  2 * n_link_words < n_words          (link density < ½)
                       AND (n_words >= min_words OR is_heading)

Scale shape (100 TB): the whole operator is Scan → ArrowEvalPython →
Project — NO shuffle, no explode for the main-content path (blocks stay an
array column; `filter`/`transform`/`array_join` are per-row codegen).
Plan pinned in tests/test_plan_shapes.py. Block-level corpus analysis
(`exploded_blocks`) is the only path that widens rows, and it feeds
straight into partial-agg groupBys like corpus TF.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..htmlx.blocks import segment_blocks, segment_blocks_with_spans
from ..htmlx.tree import TreeWalker
from .extract import html_udf

BLOCK_TYPE = ArrayType(
    StructType(
        [
            StructField("idx", IntegerType()),
            StructField("tag", StringType()),
            StructField("text", StringType()),
            StructField("n_words", IntegerType()),
            StructField("n_link_words", IntegerType()),
            StructField("is_heading", BooleanType()),
        ]
    )
)


def _blocks_of(html: str) -> List[tuple]:
    return [
        (b.idx, b.tag, b.text, b.n_words, b.n_link_words, b.is_heading)
        for b in segment_blocks(html)
    ]


def _is_content(b: Column, min_words: int) -> Column:
    return (2 * b["n_link_words"] < b["n_words"]) & (
        (b["n_words"] >= min_words) | b["is_heading"]
    )


def with_blocks(docs: DataFrame) -> DataFrame:
    """Append a ``blocks`` array column (one segmenter pass per page)."""
    return docs.withColumn("blocks", html_udf(docs, _blocks_of, BLOCK_TYPE))


def main_content(
    docs: DataFrame,
    min_words: int = 3,
) -> DataFrame:
    """Per-page main content: input columns + ``main_text`` (content blocks
    joined in document order), ``n_blocks``, ``n_content_blocks``.

    Zero-shuffle: the block array never explodes; selection and re-join are
    array-expression codegen over the Arrow batch output.
    """
    d = with_blocks(docs)
    content = F.filter("blocks", lambda b: _is_content(b, min_words))
    return d.select(
        *[c for c in docs.columns if c != "html"],
        F.array_join(
            F.transform(content, lambda b: b["text"]), " "
        ).alias("main_text"),
        F.size("blocks").alias("n_blocks"),
        F.size(content).alias("n_content_blocks"),
    )


def boilerplate_stats(
    docs: DataFrame,
    min_words: int = 3,
) -> DataFrame:
    """Per-page boilerplate profile: block counts, word counts, and the
    boilerplate share of words — the report a content-extraction threshold
    decision reads. Same zero-shuffle shape as ``main_content``."""
    d = with_blocks(docs)
    total_w = F.aggregate(
        "blocks", F.lit(0), lambda acc, b: acc + b["n_words"]
    )
    content = F.filter("blocks", lambda b: _is_content(b, min_words))
    content_w = F.aggregate(
        content, F.lit(0), lambda acc, b: acc + b["n_words"]
    )
    return d.select(
        *[c for c in docs.columns if c != "html"],
        F.size("blocks").alias("n_blocks"),
        F.size(content).alias("n_content_blocks"),
        total_w.alias("n_words_total"),
        (total_w - content_w).alias("n_words_boiler"),
        F.round(
            (total_w - content_w).cast("double")
            / F.greatest(total_w, F.lit(1)).cast("double"),
            4,
        ).alias("boiler_word_ratio"),
    )


def exploded_blocks(docs: DataFrame) -> DataFrame:
    """(url, idx, tag, text, n_words, n_link_words, is_heading) — one row
    per block, for corpus-level block analysis (e.g. boilerplate profile by
    tag). Widens rows; downstream aggs partial-combine like corpus TF.

    explode_outer + post-filter (not explode): the inferred
    ``size(blocks) > 0`` pre-filter of a plain explode re-runs the
    Arrow-batched segmenter a second time (see operators/tables.py)."""
    return (
        with_blocks(docs)
        .select(
            F.col("url"),
            F.explode_outer("blocks").alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .select("url", "b.*")
    )


SPAN_BLOCK_TYPE = ArrayType(
    StructType(
        [
            StructField("idx", IntegerType()),
            StructField("tag", StringType()),
            StructField("n_words", IntegerType()),
            StructField("n_link_words", IntegerType()),
            StructField("is_heading", BooleanType()),
            StructField("span_start", IntegerType()),
            StructField("span_end", IntegerType()),
        ]
    )
)

# the walker's own decoded page travels with the offsets so the JVM-side
# span cut addresses EXACTLY the string the offsets were measured in —
# a second independent decode (Python vs JVM replacement-char policies
# on malformed bytes, or an ignored per-page charset) could shift them
SPAN_RESULT_TYPE = StructType(
    [
        StructField("page", StringType()),
        StructField("blocks", SPAN_BLOCK_TYPE),
    ]
)


def _span_blocks_of(page: str) -> tuple:
    return page, [
        (b.idx, b.tag, b.n_words, b.n_link_words, b.is_heading, s, e)
        for b, (s, e) in segment_blocks_with_spans(page)
    ]


def content_spans(
    docs: DataFrame,
    min_words: int = 3,
) -> DataFrame:
    """Per-document CONTENT-block source spans — one row per content
    block: ``(…, block_idx, tag, span_start, span_end, span_text)``
    where ``page[span_start:span_end]`` (character offsets in the decoded
    page) is the raw source range of the block's visible text and
    ``span_text`` is that slice re-cut JVM-side with ``substring`` — the
    "extracted text/spans per document" contract (north_rule): a span-
    keyed audit, highlight, or provenance layer can address the original
    bytes without re-parsing.

    Charset/consistency contract (ADVICE r3): the decode honors the
    per-page declared ``charset`` column, when the input has one, exactly
    like ``extract_pages``, and the JVM ``substring`` cuts the SAME
    decoded string the span walker measured — the walker's page text
    rides back across Arrow next to the offsets, so Python-vs-JVM
    replacement-character policy on malformed bytes can never shift a
    span.

    Shape: one Arrow-batched span-segmenter pass (htmlx/blocks.py
    ``_SpanWalker``), classification and the slice itself as JVM
    codegen, then the content-only explode. The decoded page crosses
    Arrow once outbound (≈ the html payload it replaces in the row);
    the per-block span columns stay 2 ints, so the exploded width is
    slim at corpus scale.
    """
    d = docs.withColumn(
        "_sr", html_udf(docs, _span_blocks_of, SPAN_RESULT_TYPE)
    )
    content = F.filter(
        F.col("_sr.blocks"), lambda b: _is_content(b, min_words)
    )
    keep = [c for c in docs.columns if c != "html"]
    return (
        d.select(
            *keep,
            F.col("_sr.page").alias("_page"),
            F.explode(content).alias("b"),
        )
        .select(
            *keep,
            F.col("b.idx").alias("block_idx"),
            F.col("b.tag").alias("tag"),
            F.col("b.span_start").alias("span_start"),
            F.col("b.span_end").alias("span_end"),
            F.substring(
                F.col("_page"),
                F.col("b.span_start") + F.lit(1),
                F.col("b.span_end") - F.col("b.span_start"),
            ).alias("span_text"),
        )
    )


def template_blocks(
    docs: DataFrame,
    min_frac_micros: int = 500_000,
) -> DataFrame:
    """SITE-LEVEL template detection: blocks whose text recurs on at
    least ``min_frac_micros``/10^6 of a host's pages are that host's
    template (header, nav, footer, cookie banner) — the GLOBAL
    boilerplate tier that complements the per-page jusText rule
    (``main_content``): link-light repeated chrome ("© Example Corp",
    taglines) passes a per-page link-density test but cannot hide from
    cross-page frequency (site-template removal, Gibson et al. 2005).

    Returns (host, block_text, n_pages_with_block, n_pages, frac_pages)
    for template blocks only. The threshold compares in integer micros
    (``n_with * 1_000_000 >= min_frac_micros * n_pages``) so engines
    agree bit-for-bit at the boundary.

    Scale shape: one Arrow segmentation pass → distinct (host, page,
    block-text) — partial agg absorbs within-page repeats — → groupBy
    (host, text) count → broadcast-join the per-host page-count dim.
    At 10^12 pages group on (host, md5(text)) carrying min(text), and
    salt mega-hosts exactly like corpus TF (operators/tf.py:61).
    """
    b = (
        with_blocks(docs)
        .select(
            F.col("host"),
            F.col("url").alias("_page"),
            F.explode_outer("blocks").alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .select("host", "_page", F.col("b.text").alias("block_text"))
        .distinct()
    )
    n_pages = docs.groupBy(F.col("host")).agg(
        F.count("*").alias("n_pages")
    )
    cnt = b.groupBy("host", "block_text").agg(
        F.count("*").alias("n_pages_with_block")
    )
    return (
        cnt.join(F.broadcast(n_pages), "host")
        .filter(
            F.col("n_pages_with_block") * F.lit(1_000_000)
            >= F.lit(min_frac_micros) * F.col("n_pages")
        )
        .select(
            "host",
            "block_text",
            "n_pages_with_block",
            "n_pages",
            F.round(
                F.col("n_pages_with_block").cast("double")
                / F.col("n_pages").cast("double"),
                4,
            ).alias("frac_pages"),
        )
    )


def main_content_site_aware(
    docs: DataFrame,
    min_words: int = 3,
    min_frac_micros: int = 500_000,
    min_template_pages: int = 2,
) -> DataFrame:
    """TWO-TIER main content: the per-page jusText-lite rule
    (``main_content``) minus the host's template blocks
    (``template_blocks``) — link-light repeated chrome (taglines,
    "© Example Corp", cookie banners) passes a per-page link-density
    test and ONLY cross-page frequency removes it; unique headings and
    body text only the per-page rule can classify. Production content
    pipelines run exactly this composition (site-template removal over a
    per-page classifier, Gibson et al. 2005 + Pomikálek 2011).

    ``min_template_pages`` (ADVICE r3): "template" is a REPETITION
    signal, so a block must recur on at least this many of the host's
    pages before the frequency tier may remove it — without the guard a
    1-page host has every block at frac 100% (main_text empties) and a
    2-page host loses its unique headings/body at the inclusive 1/2
    boundary. ``template_blocks``' raw frequency metric is unchanged;
    the guard applies only to this composed subtraction.

    Shape: the template dim is a per-host ARRAY of template texts,
    broadcast-joined; the subtraction is then pure array codegen inside
    the same filter as the per-page rule — no explode, no extra shuffle
    on the page path. The corpus is segmented twice (once exploded for
    the dim, once per-page); at scale persist the block table or derive
    the dim from an existing ``exploded_blocks`` materialization.
    """
    tmpl = (
        template_blocks(docs, min_frac_micros)
        .filter(F.col("n_pages_with_block") >= min_template_pages)
        .groupBy("host")
        .agg(F.collect_list("block_text").alias("_tmpl"))
        .withColumnRenamed("host", "_tmpl_host")
    )
    d = with_blocks(docs).join(
        F.broadcast(tmpl),
        F.col("host") == F.col("_tmpl_host"),
        "left",
    )

    def keep(b: Column) -> Column:
        is_tmpl = F.coalesce(
            F.array_contains(F.col("_tmpl"), b["text"]), F.lit(False)
        )
        return _is_content(b, min_words) & ~is_tmpl

    content = F.filter("blocks", keep)
    return d.select(
        *[c for c in docs.columns if c != "html"],
        F.array_join(
            F.transform(content, lambda b: b["text"]), " "
        ).alias("main_text"),
        F.size("blocks").alias("n_blocks"),
        F.size(content).alias("n_content_blocks"),
    )


# ---------------------------------------------------------------------------
# DOM structural fingerprint — layout clustering


class _TagSeq(TreeWalker):
    """Collect the document-order START-tag sequence (lowercased by
    HTMLParser; void and self-closing elements included). Text, comments,
    attributes and end tags are ignored on purpose: two pages with the
    same element skeleton but different content/styling get the SAME
    signature — that is what makes the fingerprint a LAYOUT key, not a
    content key."""

    def __init__(self) -> None:
        super().__init__()
        self.tags: List[str] = []

    def start(self, tag, attrs):  # noqa: D102
        self.tags.append(tag)


def _tag_sequence(html: str) -> str:
    return ">".join(_TagSeq().run(html).tags)


def layout_fingerprint(docs: DataFrame) -> DataFrame:
    """Per-page DOM structural fingerprint: input columns (minus the
    html payload) + ``layout_sig`` (the '>'-joined start-tag sequence),
    ``layout_hash`` (md5 of its UTF-8 bytes, computed JVM-side so the
    oracle can restate it closed-form) and ``n_tags``.

    The scraped-site / template-farm detector: pages generated by the
    same CMS template share a signature even when every word differs —
    the structural complement to content SimHash (q20) and block-text
    template mining (q94/q96). No reference counterpart (capability
    class: template detection in web-corpus curation pipelines).

    Scale shape: ONE Arrow-batched walker pass, zero shuffle —
    Scan → ArrowEvalPython → Project, the extraction discipline. The
    signature string that crosses Arrow is ~4 bytes per element (far
    smaller than the html payload it replaces); hashing stays in
    whole-stage codegen.
    """
    d = docs.withColumn(
        "layout_sig", html_udf(docs, _tag_sequence, StringType())
    )
    return d.select(
        *[c for c in docs.columns if c != "html"],
        "layout_sig",
        F.md5(F.encode("layout_sig", "UTF-8")).alias("layout_hash"),
        F.when(F.col("layout_sig") == "", F.lit(0))
        .otherwise(F.size(F.split("layout_sig", ">")))
        .cast("int")
        .alias("n_tags"),
    )


def layout_clusters(docs: DataFrame) -> DataFrame:
    """Layout-cluster report: one row per distinct DOM skeleton —
    ``(layout_hash, n_pages, n_tags, min_id)``. The corpus-curation
    view: template farms surface as huge clusters, hand-written pages
    as singletons; a downstream boilerplate policy can be keyed by
    ``layout_hash`` (per-template extraction rules) instead of per-page
    heuristics.

    Cluster keys are LOW-cardinality (#templates ≪ #pages) and the agg
    is count/min — fully map-side combinable, so the hot-template skew
    a naive collect-per-key would hit never materializes; at 10^12
    pages this is one partial-agg shuffle of (hash, count) pairs.
    """
    fp = layout_fingerprint(docs)
    return fp.groupBy("layout_hash").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.min("n_tags").cast("int").alias("n_tags"),
        F.min("doc_id").cast("long").alias("min_id"),
    )


def extraction_eval(extracted: DataFrame, gold: DataFrame) -> DataFrame:
    """Token-level extraction-quality eval: compare an extractor's
    output text against gold main content per document, CleanEval-style
    (Baroni et al. 2008 score the token bag overlap; boilerpipe's eval
    does the same).

    Both inputs are ``(id, text)``; tokens come from the engine's
    standard tokenizer. The match is the MULTISET intersection
    (sum over words of min(count_extracted, count_gold)) so repeated
    content words can't be double-credited. Output per document:
    ``(id, n_ext, n_gold, n_inter, p_micros, r_micros, f1_micros)``
    with precision = I/E, recall = I/G and F1 stated via the identity
    2PR/(P+R) = 2I/(E+G) — one floor each, no chained rounding.
    Documents with an empty side score 0 by convention (never NULL),
    so corpus averages stay plain aggregates.

    Scale shape: two (doc, word) partial-agg groupBys, one equi-join
    on (doc, word) for the intersection, then doc-keyed joins of three
    doc-sized aggregates — no window, no explode past the token stream,
    everything combinable map-side. This is the harness a content-
    extraction threshold sweep (q87's link-density/length rules) reads
    at corpus scale.
    """
    from .dsir import _words

    def _counts(df: DataFrame, total_name: str, cnt_name: str):
        tok = df.select(
            F.col("doc_id"),
            F.explode(_words(F.col("text"))).alias("_w"),
        )
        per = tok.groupBy("doc_id", "_w").agg(
            F.count("*").alias(cnt_name)
        )
        tot = per.groupBy("doc_id").agg(
            F.sum(cnt_name).cast("bigint").alias(total_name)
        )
        return per, tot

    e_per, e_tot = _counts(extracted, "n_ext", "_ce")
    g_per, g_tot = _counts(gold, "n_gold", "_cg")

    inter = (
        e_per.join(g_per, ["doc_id", "_w"])
        .groupBy("doc_id")
        .agg(F.sum(F.least("_ce", "_cg")).cast("bigint").alias("n_inter"))
    )
    base = (
        e_tot.join(g_tot, "doc_id", "full_outer")
        .join(inter, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ext", F.lit(0)).alias("n_ext"),
            F.coalesce("n_gold", F.lit(0)).alias("n_gold"),
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
        )
    )
    i, e, g = F.col("n_inter"), F.col("n_ext"), F.col("n_gold")
    zero = F.lit(0).cast("bigint")
    return base.select(
        "doc_id", "n_ext", "n_gold", "n_inter",
        F.when(e > 0, F.floor(F.lit(1e6) * i / e)).otherwise(zero)
        .alias("p_micros"),
        F.when(g > 0, F.floor(F.lit(1e6) * i / g)).otherwise(zero)
        .alias("r_micros"),
        F.when(e + g > 0, F.floor(F.lit(2e6) * i / (e + g)))
        .otherwise(zero).alias("f1_micros"),
    )
