"""RSS/Atom feed source — entry extraction for feed-driven crawl
seeding.

Beyond-reference capability in the same family as the sitemap source
(sources/sitemap.py = reference ``storage.py:85-117``): production
crawls poll feeds because they surface NEW urls days before sitemaps
regenerate — the freshness channel of the URL universe. As with
sitemaps, fetching is out of scope (feed bodies are pre-materialized
columns); this module is the columnar parse + seed dataflow.

Both syndication dialects are handled by ONE extraction pass per
field, entirely JVM-side regexp (no XML library in the hot path —
same tolerance posture as sitemap_locs' namespace-prefix handling):

* RSS 2.0: ``<item>`` blocks with ``<link>text</link>``,
  ``<pubDate>``, ``<title>``;
* Atom: ``<entry>`` blocks with ``<link href="..."/>``,
  ``<updated>``, ``<title>``.

Scale shape: regexp_extract_all over the feed body → arrays_zip →
explode — one narrow pass, zero shuffle until the seed anti-join
(which is the same left-anti-against-state join as sitemap seeding,
bucketed by url at 10^12 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# one <item>…</item> / <entry>…</entry> block per match (non-greedy,
# (?s) so blocks may span lines)
_ITEM = r"(?s)<item[\s>].*?</item>"
_ENTRY = r"(?s)<entry[\s>].*?</entry>"

# inside a block: RSS text link vs Atom href link
_RSS_LINK = r"(?s)<link>\s*([^<\s][^<]*?)\s*</link>"
_ATOM_LINK = r'<link[^>]*href="([^"]+)"'
_TITLE = r"(?s)<title>\s*(.*?)\s*</title>"
_RSS_DATE = r"(?s)<pubDate>\s*(.*?)\s*</pubDate>"
_ATOM_DATE = r"(?s)<updated>\s*(.*?)\s*</updated>"


def _first(block, pattern):
    return F.regexp_extract(block, pattern, 1)


def feed_entries(feeds: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """One row per feed entry: (…keep_cols, url, title, published).

    Blocks are isolated first (``<item>``/``<entry>``), THEN fields
    extract inside each block — field regexps never cross entry
    boundaries, so a missing ``<title>`` in one item cannot steal the
    next item's. Entries with no resolvable link are dropped (both
    dialects tried per block; RSS text-link wins when both match —
    Atom feeds do not use text links). Whitespace around values is
    trimmed like ElementTree ``.text`` handling.
    """
    blocks = feeds.select(
        *keep_cols,
        F.explode(
            F.concat(
                F.regexp_extract_all(F.col("feed_xml"), F.lit(_ITEM), 0),
                F.regexp_extract_all(F.col("feed_xml"), F.lit(_ENTRY), 0),
            )
        ).alias("_blk"),
    )
    b = F.col("_blk")
    rss_link = _first(b, _RSS_LINK)
    atom_link = _first(b, _ATOM_LINK)
    url = F.when(F.length(rss_link) > 0, rss_link).otherwise(atom_link)
    rss_date = _first(b, _RSS_DATE)
    atom_date = _first(b, _ATOM_DATE)
    published = F.when(F.length(rss_date) > 0, rss_date).otherwise(
        atom_date
    )
    return (
        blocks.select(
            *keep_cols,
            F.trim(url).alias("url"),
            F.trim(_first(b, _TITLE)).alias("title"),
            F.trim(published).alias("published"),
        )
        .filter(F.length("url") > 0)
    )


def seed_from_feeds(entries: DataFrame, state: DataFrame) -> DataFrame:
    """Feed-driven pending seeds: entry urls absent from the visited
    state enter as Status=2 rows — identical contract to
    sitemap.seed_urls so the two sources compose into one frontier
    union (and the same bucketed left-anti join at corpus scale)."""
    return (
        entries.select("url")
        .distinct()
        .join(
            state.select(F.col("URL").alias("url")), "url", "left_anti"
        )
        .select(
            F.col("url").alias("URL"),
            F.lit(2).alias("Status"),
            F.lit("").alias("Data"),
            F.lit("").alias("MD File"),
            F.lit("").alias("JSON File"),
        )
    )


_ENCLOSURE = r"<enclosure\s[^>]*/?>"


def _encl_attr(m, name: str):
    dq = F.regexp_extract(m, name + r'\s*=\s*"([^"]*)"', 1)
    sq = F.regexp_extract(m, name + r"\s*=\s*'([^']*)'", 1)
    return F.when(dq != "", dq).otherwise(sq)


def feed_enclosures(feeds: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """One row per RSS ``<enclosure>``: (…keys, enclosure_url, mime,
    n_bytes) — the podcast/video attachment relation a multimodal
    ingest pipeline (media_metadata / av_metadata, q29/q53) reads to
    build its fetch list. Void-element regexp regime, length via
    try_cast (feeds ship '' and junk there constantly), entries with
    no url dropped. Codegen end to end."""
    rows = feeds.select(
        *keep_cols,
        F.explode(
            F.regexp_extract_all(F.col("feed_xml"), F.lit(_ENCLOSURE), 0)
        ).alias("_e"),
    )
    e = F.col("_e")
    return (
        rows.select(
            *keep_cols,
            F.trim(_encl_attr(e, "url")).alias("enclosure_url"),
            F.lower(F.coalesce(_encl_attr(e, "type"), F.lit("")))
            .alias("mime"),
            F.coalesce(
                _encl_attr(e, "length").try_cast("bigint"), F.lit(-1)
            ).alias("n_bytes"),
        )
        .filter(F.length("enclosure_url") > 0)
    )


_OUTLINE = r"<outline\s[^>]*/?>"


def opml_feeds(opml: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """OPML subscription-list source (the interchange format feed
    readers export): one row per ``<outline>`` carrying an xmlUrl —
    (…keys, feed_url, site_url, title). Category/folder outlines (no
    xmlUrl) are structural and dropped; the output is exactly the
    feed-url dimension ``feed_entries`` consumes next, so
    OPML → feeds → entries → frontier composes as three codegen
    stages."""
    rows = opml.select(
        *keep_cols,
        F.explode(
            F.regexp_extract_all(F.col("opml_xml"), F.lit(_OUTLINE), 0)
        ).alias("_o"),
    )
    o = F.col("_o")
    return (
        rows.select(
            *keep_cols,
            F.trim(_encl_attr(o, "xmlUrl")).alias("feed_url"),
            F.trim(F.coalesce(_encl_attr(o, "htmlUrl"), F.lit("")))
            .alias("site_url"),
            F.trim(F.coalesce(_encl_attr(o, "text"), F.lit("")))
            .alias("title"),
        )
        .filter(F.length("feed_url") > 0)
    )
