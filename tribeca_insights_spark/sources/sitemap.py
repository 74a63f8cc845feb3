"""Sitemap URL-universe seeding (SURVEY.md §2.1 S3 — reference
``storage.py:85-117`` ``add_urls_from_sitemap``).

The reference GETs ``/sitemap.xml``, parses ``<loc>`` elements with
ElementTree (sitemaps.org namespace), trims their text, and appends rows
``(URL, Status=2, "", "", "")`` for urls not already in the visited table.
Here fetching is out of scope (html/sitemap bodies are pre-materialized
columns); the dataflow re-expression is:

* ``sitemap_locs`` — columnar ``<loc>`` extraction (regexp_extract_all →
  explode → trim), entirely JVM-side; tolerates namespace prefixes
  (``<sm:loc>``) and surrounding whitespace like ElementTree's ``.text``
  handling does.
* ``seed_urls`` — the anti-join + union (reference membership test
  ``loc not in visited_df["URL"].values`` + ``pd.concat``): new urls enter
  the state table as Status=2 (pending), existing rows are preserved
  untouched. At 10^12 docs this is exactly the incremental-universe load:
  a left-anti join against the state table on its bucketed key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# <loc> with optional namespace prefix; text captured up to the closing tag
_LOC_PATTERN = r"<(?:\w+:)?loc>([^<]*)</(?:\w+:)?loc>"


def sitemap_locs(sitemaps: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """One row per ``<loc>`` URL found in each sitemap body (trimmed,
    empties dropped — reference skips falsy ``url.text``)."""
    return (
        sitemaps.select(
            *keep_cols,
            F.explode(
                F.regexp_extract_all(F.col("sitemap_xml"), F.lit(_LOC_PATTERN), 1)
            ).alias("_loc"),
        )
        .select(*keep_cols, F.trim("_loc").alias("url"))
        .filter(F.length("url") > 0)
    )


def seed_urls(locs: DataFrame, state: DataFrame) -> DataFrame:
    """Seed pending work: urls from sitemaps not present in the state table
    are appended as Status=2 rows (storage.py:98-111 semantics: dedup within
    the new batch happens via distinct; existing rows win)."""
    new = (
        locs.select("url")
        .distinct()
        .join(state.select(F.col("URL").alias("url")), "url", "left_anti")
        .select(
            F.col("url").alias("URL"),
            F.lit(2).alias("Status"),
            F.lit("").alias("Data"),
            F.lit("").alias("MD File"),
            F.lit("").alias("JSON File"),
        )
    )
    return state.unionByName(new)


def sitemap_coverage(locs: DataFrame, crawled: DataFrame) -> DataFrame:
    """Per-host sitemap↔crawl coverage audit — the two gap lists every
    crawl review reads: sitemap urls never crawled (frontier debt or
    robots/error losses) and crawled urls absent from the sitemap
    (orphans — reachable only by links; a big orphan share says the
    sitemap is stale). Inputs: the ``sitemap_locs`` output and the
    crawled-url set, both with a host column.

    Shape: full outer join on url (bucketed by url at corpus scale —
    the same key the state table already buckets on), then one
    host-keyed partial agg. Output: (host, n_in_sitemap, n_crawled,
    n_both, n_sitemap_only, n_crawled_only, crawl_coverage_micros =
    n_both·1e6 div n_in_sitemap [NULL when the sitemap is empty],
    orphan_micros = n_crawled_only·1e6 div n_crawled [NULL when
    nothing crawled]).
    """
    s = locs.select(
        F.col("host").alias("_hs"), F.col("url")
    ).distinct().withColumn("_in_s", F.lit(1))
    c = crawled.select(
        F.col("host").alias("_hc"), F.col("url")
    ).distinct().withColumn("_in_c", F.lit(1))
    j = s.join(c, "url", "full_outer").select(
        F.coalesce(F.col("_hs"), F.col("_hc")).alias("host"),
        F.coalesce(F.col("_in_s"), F.lit(0)).alias("in_s"),
        F.coalesce(F.col("_in_c"), F.lit(0)).alias("in_c"),
    )
    agg = j.groupBy("host").agg(
        F.sum("in_s").cast("bigint").alias("n_in_sitemap"),
        F.sum("in_c").cast("bigint").alias("n_crawled"),
        F.sum(F.col("in_s") * F.col("in_c")).cast("bigint").alias(
            "n_both"
        ),
    )
    return agg.select(
        "host",
        "n_in_sitemap",
        "n_crawled",
        "n_both",
        (F.col("n_in_sitemap") - F.col("n_both")).alias(
            "n_sitemap_only"
        ),
        (F.col("n_crawled") - F.col("n_both")).alias("n_crawled_only"),
        F.when(
            F.col("n_in_sitemap") > 0,
            F.expr("n_both * 1000000L div n_in_sitemap"),
        ).alias("crawl_coverage_micros"),
        F.when(
            F.col("n_crawled") > 0,
            F.expr(
                "(n_crawled - n_both) * 1000000L div n_crawled"
            ),
        ).alias("orphan_micros"),
    )


def resolve_sitemap_tree(sitemaps: DataFrame,
                         key_cols: tuple = ("host",)) -> DataFrame:
    """Sitemap-INDEX resolution (sitemaps.org ``<sitemapindex>`` — the
    file large sites actually serve at /sitemap.xml, pointing at up to
    50k child sitemaps): one row per page URL reachable from the
    sitemap table, ``(…keys, url, via)`` with ``via`` = 'direct' for
    URLs in a plain ``<urlset>`` body and 'index' for URLs reached
    through an index entry. One level deep by spec (sitemaps.org
    forbids nested indexes).

    Plan shape: classification is a codegen ``contains``; both tiers
    reuse :func:`sitemap_locs`' columnar ``<loc>`` extraction; the
    index hop is ONE self equi-join of child-loc rows against the
    sitemap table on its url key — exactly the bucketed key a crawl
    state store shards by, so at 10^12 pages the hop co-locates.
    """
    keys = list(key_cols)
    is_index = F.col("sitemap_xml").contains("<sitemapindex")

    direct = sitemap_locs(
        sitemaps.filter(~is_index), keep_cols=tuple(keys),
    ).select(*keys, "url", F.lit("direct").alias("via"))

    child_refs = sitemap_locs(
        sitemaps.filter(is_index), keep_cols=tuple(keys),
    ).select(*keys, F.col("url").alias("sitemap_url"))

    bodies = sitemaps.select(*keys, "sitemap_url", "sitemap_xml")
    resolved = sitemap_locs(
        child_refs.join(bodies, keys + ["sitemap_url"]),
        keep_cols=tuple(keys),
    ).select(*keys, "url", F.lit("index").alias("via"))

    return direct.unionByName(resolved)


_URL_BLOCK = r"<url>.*?</url>"


def sitemap_url_meta(sitemaps: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Full per-URL sitemap metadata: ``(…keys, url, lastmod,
    priority_micros, changefreq)`` — the freshness fields
    :func:`sitemap_locs` deliberately drops for the seed path, but a
    change-aware recrawl scheduler wants: ``lastmod`` against the
    state table's last-crawl timestamp is the cheapest possible
    change signal (no fetch at all), ``priority``/``changefreq`` are
    the publisher's own ordering hints (q95's model can take them as
    priors). Absent fields: lastmod '' / priority -1 / changefreq ''.

    Same columnar regime as sitemap_locs: ``<url>`` blocks isolated
    FIRST (``(?s)`` so multi-line blocks match), then fields extract
    inside each block — a missing lastmod cannot steal the next
    entry's. Priority parses to integer micros (try_cast guards
    junk); all codegen, zero Python.
    """
    blocks = sitemaps.select(
        *keep_cols,
        F.explode(
            F.regexp_extract_all(
                F.col("sitemap_xml"), F.lit("(?s)" + _URL_BLOCK), 0
            )
        ).alias("_b"),
    )
    b = F.col("_b")

    def field(tag):
        return F.trim(F.regexp_extract(
            b, r"(?s)<(?:\w+:)?" + tag + r">([^<]*)</", 1
        ))

    prio = F.floor(
        field("priority").try_cast("double") * 1_000_000
    ).try_cast("bigint")
    return (
        blocks.select(
            *keep_cols,
            field("loc").alias("url"),
            field("lastmod").alias("lastmod"),
            F.coalesce(prio, F.lit(-1)).alias("priority_micros"),
            F.lower(field("changefreq")).alias("changefreq"),
        )
        .filter(F.length("url") > 0)
    )


def gunzip_text(col, encoding: str = "utf-8"):
    """Arrow-batched gzip/zlib decompression of a binary column to
    text — the missing ingestion step for REAL sitemap fleets, which
    overwhelmingly serve ``sitemap.xml.gz`` (the sitemaps.org spec
    explicitly allows gzip, and Common Crawl's seed lists arrive
    compressed). Tolerant-reader semantics: plain (uncompressed)
    bytes pass through unchanged, undecodable payloads yield NULL —
    the same null-on-garbage contract as the media sniffers.

    Python touches each blob once inside an Arrow batch (pandas_udf;
    gzip is stdlib zlib — deterministic); the plan stays
    Scan → ArrowEvalPython → downstream codegen parse, zero shuffle,
    so gzipped and plain sitemap bodies share every operator after
    this column."""
    def _gunzip_batch(s):
        import gzip
        import zlib

        import pandas as pd

        out = []
        for b in s:
            if b is None:
                out.append(None)
                continue
            raw = bytes(b)
            try:
                if raw[:2] == b"\x1f\x8b":
                    raw = gzip.decompress(raw)
                out.append(raw.decode(encoding))
            except (OSError, zlib.error, UnicodeDecodeError):
                out.append(None)
        return pd.Series(out)

    _g = F.pandas_udf(_gunzip_batch, "string")
    c = F.col(col) if isinstance(col, str) else col
    return _g(c)
