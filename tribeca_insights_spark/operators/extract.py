"""Extraction operators — the Arrow-batched hot path.

One pandas UDF performs a SINGLE parse per page and emits every per-page
field the reference computes (SURVEY.md §2.2 O1, O2, O4-O11; reference
crawler.py:104-183 does the same work row-at-a-time in threads). Two entry
points share it: :func:`extract_pages` returns the full record, and
:func:`extract_token_strings` returns only ``tokens_str`` — the same batch
body, which then skips links, slug, sha256 and the JSON encodings and ships
one string per page. Batches arrive via Arrow (tune
``spark.sql.execution.arrow.maxRecordsPerBatch`` down for fat HTML blobs —
see session.py); everything downstream is native Catalyst (explode / joins
/ aggregations).

Tokenization is FUSED into the UDF (clean_and_tokenize — the line-faithful
reference tokenizer, text_utils.py:99-116): measured on this Spark build,
JVM regexp_replace / regex-split run ~1.4 ms/row (pattern handling
pathology) while Python ``re`` with module-compiled patterns does ~0.03
ms/doc — 40× faster, and byte-exact by construction. Tokens cross Arrow
as ONE space-joined string and the per-page ``word_frequency`` Counter
(crawler.py:160-161) as ONE compact-JSON string: Arrow's array/map child
layouts (per-element offsets + validity) measurably dominate the full
extraction path, so both collections are re-derived JVM-side — literal
``split`` (codegen) and ``from_json`` — which Catalyst prunes entirely
for consumers that never touch them. Measured effect of the two changes:
full-path extraction+TF 23.9k → 54.0k docs/sec at local[32].

Charset policy, stated once for the package: ``html`` is UTF-8 by
contract (FIXTURES.md §1) — the WARC/WET reader (sources/warc.py
``read_warc``) transcodes every record to UTF-8 at ingestion and emits no
``charset`` column. An input MAY carry a per-page declared ``charset``
column; every Python walker honors it, because every walker UDF decodes
through :func:`html_udf` (or, for this module's extraction UDF,
:func:`_extract_batch`) with the one :func:`_decode`, matching the
reference, which consumes ``requests``' header-charset-decoded
``resp.text`` (crawler.py:137-138). Absent/unknown charsets decode UTF-8
with ``errors="replace"``. The JVM-side regex operators (``meta.py``,
``governance.py``) read ``html`` through a UTF-8 ``cast("string")``.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from functools import lru_cache
from typing import Callable, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType, StringType, StructType

from ..functions.slug import url_slug
from ..functions.tokenize import clean_and_tokenize
from ..htmlx.extractor import (
    external_links,
    internal_links,
    parse_page,
    url_domain,
)
from ..schemas import EXTRACT_STRUCT, SEO_STRUCT, WORD_FREQUENCY_TYPE

_TOKEN_PROFILE = "compat"  # default stopword profile inside the UDFs


def _decode(h: Optional[object], charset: Optional[str] = None) -> str:
    """bytes → str with the page's declared charset when one is carried
    (see the module docstring's charset policy). Unknown/absent charset
    falls back to UTF-8(replace); decode NEVER raises (errors=replace,
    like requests)."""
    if h is None:
        return ""
    if isinstance(h, (bytes, bytearray, memoryview)):
        b = bytes(h)
        if charset:
            try:
                return b.decode(charset.strip().lower(), errors="replace")
            except LookupError:
                pass  # undeclared/bogus codec name → utf-8 fallback
        return b.decode("utf-8", errors="replace")
    return str(h)


def _extract_batch(url: pd.Series, html: pd.Series, lang: pd.Series,
                   charset: pd.Series, profile: str = _TOKEN_PROFILE,
                   tokens_only: bool = False) -> pd.DataFrame:
    """One parse + tokenize per page → the EXTRACT_STRUCT columns, or only
    ``tokens_str`` when ``tokens_only`` (links, slug, sha256 and both JSON
    encodings are skipped)."""
    fields = ("tokens_str",) if tokens_only else EXTRACT_STRUCT.fieldNames()
    out = {f: [] for f in fields}
    for u, h, lg, cs in zip(url, html, lang, charset):
        page = parse_page(_decode(h, cs))
        toks = clean_and_tokenize(page.text, lg or "", profile)
        out["tokens_str"].append(" ".join(toks))
        if tokens_only:
            continue
        u = u or ""
        dom = url_domain(u)
        out["text"].append(page.text)
        out["title"].append(page.title)
        out["meta_description"].append(page.meta_description)
        out["headings"].append(page.headings)
        out["images"].append(page.images)
        out["external_links"].append(external_links(page.links, dom))
        out["internal_links"].append(internal_links(page.links, u, dom))
        out["slug"].append(url_slug(u))
        out["page_hash"].append(
            hashlib.sha256(page.text.encode("utf-8")).hexdigest()
        )
        out["word_count"].append(len(toks))
        # compact JSON (words are letter-class only — no escaping surprises);
        # rebuilt as MapType JVM-side via from_json (see extract_pages)
        out["wf_json"].append(
            json.dumps(dict(Counter(toks)), separators=(",", ":"))
        )
        # SEO extension fields as one compact JSON string (Arrow-cheap;
        # from_json rebuilds the struct JVM-side, see schemas.SEO_STRUCT)
        out["seo_json"].append(
            json.dumps(
                {
                    "canonical": page.canonical,
                    "og_title": page.og_title,
                    "og_description": page.og_description,
                    "og_image": page.og_image,
                    "og_url": page.og_url,
                    "meta_robots": page.meta_robots,
                    "twitter_title": page.twitter_title,
                    "twitter_description": page.twitter_description,
                    "twitter_image": page.twitter_image,
                    "hreflang": page.hreflang,
                },
                separators=(",", ":"),
            )
        )
    return pd.DataFrame(out)


_TOKENS_STRUCT = StructType([EXTRACT_STRUCT["tokens_str"]])


@lru_cache(maxsize=None)
def _extract_udf(profile: str, tokens_only: bool):
    """The extraction pandas UDF, bound to a stopword profile and an output
    width (the profile rides the closure; stopword sets are lru-cached per
    executor — no per-batch reload)."""

    def batch(url: pd.Series, html: pd.Series, lang: pd.Series,
              charset: pd.Series) -> pd.DataFrame:
        return _extract_batch(url, html, lang, charset, profile, tokens_only)

    return pandas_udf(
        batch, returnType=_TOKENS_STRUCT if tokens_only else EXTRACT_STRUCT
    )


def _charset_expr(docs: DataFrame):
    """Column feeding a UDF's charset series: the input's ``charset``
    column when present, else NULL (= UTF-8)."""
    if "charset" in docs.columns:
        return F.col("charset")
    return F.lit(None).cast(StringType())


def html_udf(docs: DataFrame, page_fn: Callable, return_type: DataType,
             *extra: Column) -> Column:
    """The Python HTML boundary of every walker operator: a pandas UDF
    column over ``docs``' ``html`` (and charset, see the module docstring)
    that decodes each page once with :func:`_decode` and returns
    ``page_fn(page, *extra_values)`` per row. A struct ``return_type``
    comes back as a DataFrame (``page_fn`` yields one tuple or dict per
    page), any other type as a Series."""
    struct = isinstance(return_type, StructType)

    def batch(html: pd.Series, charset: pd.Series,
              *cols: pd.Series) -> pd.Series:
        rows = [page_fn(_decode(h, cs), *x)
                for h, cs, *x in zip(html, charset, *cols)]
        if struct:
            return pd.DataFrame(rows, columns=return_type.names)
        return pd.Series(rows)

    return pandas_udf(batch, return_type)(
        F.col("html"), _charset_expr(docs), *extra
    )


def _extract_col(docs: DataFrame, profile: str, tokens_only: bool):
    # the tokens-only body never reads the url, so it does not cross Arrow
    url = F.lit(None).cast(StringType()) if tokens_only else F.col("url")
    return _extract_udf(profile, tokens_only)(
        url, F.col("html"), F.col("lang"), _charset_expr(docs)
    )


def extract_token_strings(docs: DataFrame,
                          profile: str = _TOKEN_PROFILE) -> DataFrame:
    """(url, lang, tokens_str) — the corpus-TF hot path: the same parse and
    tokenizer as :func:`extract_pages`, shipping one string per page."""
    return docs.select(
        "url", "lang",
        _extract_col(docs, profile, True).getField("tokens_str")
        .alias("tokens_str"),
    )


def extract_pages(docs: DataFrame,
                  profile: str = _TOKEN_PROFILE) -> DataFrame:
    """docs(url, warc_ts, html, lang[, charset]) → extracted per-page
    DataFrame.

    Plan shape: Scan → ArrowEvalPython (one parse+tokenize per page) →
    Project (flatten). No shuffle at all — extraction is embarrassingly
    parallel and stays that way at 10^12 docs; partitioning is inherited
    from the source (url-hash-bucketed Iceberg scan in production).
    A ``charset`` column, when the input has one, decodes ``html`` with
    each page's declared charset.
    """
    e = docs.withColumn("_x", _extract_col(docs, profile, False))
    return e.select(
        "url",
        "warc_ts",
        "lang",
        F.col("_x.text").alias("text"),
        F.col("_x.title").alias("title"),
        F.col("_x.meta_description").alias("meta_description"),
        F.col("_x.headings").alias("headings"),
        F.col("_x.images").alias("images"),
        F.col("_x.external_links").alias("external_links"),
        F.col("_x.internal_links").alias("internal_links"),
        F.col("_x.slug").alias("slug"),
        F.col("_x.page_hash").alias("page_hash"),
        # SEO extension struct (canonical/og_*/meta_robots/twitter_*/
        # hreflang); pruned by Catalyst when untouched
        F.from_json(F.col("_x.seo_json"), SEO_STRUCT).alias("seo"),
        # tokens array and word_frequency map are derived JVM-side from the
        # two Arrow-shipped strings: literal split (codegen) + empty filter
        # ≡ the Python list; from_json ≡ the Python Counter dict. Consumers
        # that don't touch them get both pruned by Catalyst.
        F.filter(
            F.split(F.col("_x.tokens_str"), " ", -1),
            lambda t: F.length(t) > 0,
        ).alias("tokens"),
        F.col("_x.tokens_str").alias("tokens_str"),
        F.col("_x.word_count").alias("word_count"),
        F.from_json(F.col("_x.wf_json"), WORD_FREQUENCY_TYPE).alias(
            "word_frequency"
        ),
    )


def page_data(docs: DataFrame, profile: str = "compat") -> DataFrame:
    """Full reference ``page_data`` record per page (SURVEY.md §1.1)."""
    return extract_pages(docs, profile=profile).select(
        "url", "text", "slug", "title", "meta_description", "headings",
        "word_count", "word_frequency", "images", "external_links",
        "internal_links", "page_hash", "lang", "warc_ts",
    )
