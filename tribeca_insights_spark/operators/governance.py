"""Corpus-governance signals: license detection and AI-training
opt-out auditing.

Beyond-reference capability (task brief: "the operations a large-scale
training-data pipeline would need"): responsible corpus construction
tracks, per page, (a) the declared content license — Creative-Commons
license links and SPDX identifiers are the machine-readable forms —
and (b) the owner's machine-readable AI-use reservations: the
``noai``/``noimageai`` robots-meta tokens and the W3C TDM Reservation
Protocol's ``tdm-reservation`` meta. Pipelines like the public
CC-licensed corpora filter ON these columns; without them the filter
can't exist.

Everything here is codegen (regexp over void elements + the meta_tags
relation); plans are Scan → Generate → Project plus one per-page
partial-agg groupBy — zero Python, zero corpus shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .meta import meta_tags

# creativecommons.org/licenses/<code>/<version>/ — the canonical deed
# URL form; publicdomain/zero is CC0's path
_CC_RX = (
    r"creativecommons\.org/(?:licenses/([a-z-]+)/(\d+\.\d+)"
    r"|publicdomain/(zero)/(\d+\.\d+))"
)
_SPDX_RX = r"SPDX-License-Identifier:\s*([A-Za-z0-9.+-]+)"


def license_signals(pages: DataFrame) -> DataFrame:
    """One row per detected license signal: ``(id, license, via)``.

    - ``via='link'``: any href (``<a>`` or ``<link>``, incl.
      rel=license) pointing at a canonical CC deed URL; the license
      code is ``cc-<code>-<version>`` (``cc-zero-1.0`` for CC0).
    - ``via='spdx'``: an ``SPDX-License-Identifier: <id>`` marker in
      the page source (code blocks / footers of engineering sites).

    Duplicate signals per (id, license, via) collapse — the relation
    answers "what licenses does this page declare", not "how often".
    """
    html = F.col("html").cast("string")
    hrefs = pages.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(
                html, F.lit(r'href\s*=\s*"([^"]*)"'), 1
            )
        ).alias("_h"),
    )
    cc = hrefs.select(
        "doc_id",
        F.regexp_extract("_h", _CC_RX, 1).alias("_c1"),
        F.regexp_extract("_h", _CC_RX, 2).alias("_v1"),
        F.regexp_extract("_h", _CC_RX, 3).alias("_c2"),
        F.regexp_extract("_h", _CC_RX, 4).alias("_v2"),
    ).filter((F.col("_c1") != "") | (F.col("_c2") != "")).select(
        "doc_id",
        F.concat(
            F.lit("cc-"),
            F.when(F.col("_c1") != "", F.col("_c1"))
            .otherwise(F.col("_c2")),
            F.lit("-"),
            F.when(F.col("_c1") != "", F.col("_v1"))
            .otherwise(F.col("_v2")),
        ).alias("license"),
        F.lit("link").alias("via"),
    )
    spdx = pages.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(html, F.lit(_SPDX_RX), 1)
        ).alias("license"),
    ).select("doc_id", "license", F.lit("spdx").alias("via"))
    return cc.unionByName(spdx).dropDuplicates(
        ["doc_id", "license", "via"]
    )


def ai_optout_flags(pages: DataFrame) -> DataFrame:
    """Per-page AI-use reservation flags: ``(id, noai, noimageai,
    tdm_reserved)``.

    - ``noai`` / ``noimageai``: the robots-meta tokens DeviantArt
      popularized and art platforms serve; token-list parsing shares
      robots_meta_flags' comma-split semantics.
    - ``tdm_reserved``: ``<meta name="tdm-reservation" content="1">``
      per the W3C TDM Reservation Protocol.

    Absent signals default 0 (no reservation). A corpus filter is
    then one codegen predicate over this relation; host-level rollups
    (share of reserved pages per host) hang a partial-agg groupBy off
    it.
    """
    m = meta_tags(pages)
    toks = m.filter(F.col("key") == "robots").select(
        "doc_id",
        F.explode(F.split(F.lower("content"), ",")).alias("_t"),
    ).select("doc_id", F.trim("_t").alias("_t"))
    robots_flags = toks.groupBy("doc_id").agg(
        F.max(F.when(F.col("_t") == "noai", 1).otherwise(0))
        .alias("_noai"),
        F.max(F.when(F.col("_t") == "noimageai", 1).otherwise(0))
        .alias("_noimg"),
    )
    tdm = m.filter(F.col("key") == "tdm-reservation").groupBy(
        "doc_id"
    ).agg(
        F.max(F.when(F.trim(F.col("content")) == "1", 1).otherwise(0))
        .alias("_tdm")
    )
    return (
        pages.select(F.col("doc_id"))
        .join(robots_flags, "doc_id", "left")
        .join(tdm, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_noai", F.lit(0)).cast("int").alias("noai"),
            F.coalesce("_noimg", F.lit(0)).cast("int")
            .alias("noimageai"),
            F.coalesce("_tdm", F.lit(0)).cast("int")
            .alias("tdm_reserved"),
        )
    )


def k_anonymize_hosts(docs: DataFrame, k: int = 5) -> DataFrame:
    """k-anonymity for released per-host metadata: publishing host
    counts straight from a crawl leaks k=1 facts ("we crawled exactly
    this one blog"), so release tables suppress small groups and
    generalize them up a hierarchy. Per the standard
    suppress-and-generalize scheme:

    1. hosts with >= k docs release at ``level='host'``;
    2. smaller hosts pool into their TLD — TLD pools reaching k
       release at ``level='tld'``;
    3. anything still below k collapses into one ``('*', 'any')``
       residual row (emitted only when non-empty).

    Output: ``(release_key, level, n_docs)`` — the table is safe to
    publish: every row aggregates >= k documents except the residual,
    which is intentionally maximal-entropy. Three partial-agg
    groupBys, codegen TLD extraction, no window.
    """
    hc = docs.groupBy(F.col("host")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    rel_host = hc.filter(F.col("n") >= k).select(
        F.col("host").alias("release_key"),
        F.lit("host").alias("level"),
        F.col("n").alias("n_docs"),
    )
    sup = hc.filter(F.col("n") < k).select(
        F.regexp_extract("host", r"\.([a-z]+)$", 1).alias("tld"),
        "n",
    )
    tc = sup.groupBy("tld").agg(F.sum("n").cast("bigint").alias("n"))
    rel_tld = tc.filter(F.col("n") >= k).select(
        F.col("tld").alias("release_key"),
        F.lit("tld").alias("level"),
        F.col("n").alias("n_docs"),
    )
    rest = tc.filter(F.col("n") < k).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_docs")
    ).filter(F.col("n_docs") > 0).select(
        F.lit("*").alias("release_key"),
        F.lit("any").alias("level"),
        "n_docs",
    )
    return rel_host.unionByName(rel_tld).unionByName(rest)
