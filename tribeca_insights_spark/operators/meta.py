"""Head-metadata extraction: <meta> tags, robots directives, OpenGraph
properties, JSON-LD structured data.

SEO surface the reference's extractor stops short of: it reads only
``meta[name=description]`` (`/root/reference/tribeca_insights/
crawler.py:70-71`); real SEO audits also need the robots directives
(noindex/nofollow), the social-graph properties (og:*) and schema.org
JSON-LD blocks. All three extractors here stay ENTIRELY JVM-side —
``<meta>`` is a void element with flat attribute syntax and JSON-LD is
a fenced script payload, so targeted regexp_extract_all + from_json in
codegen is both correct for the surface and orders faster than another
Python tree walk; the full-fidelity tree walker (htmlx/extractor.py)
remains the path for nested visible content.

Scale shape: every operator is Scan → Project/Generate — zero shuffle,
zero Python; per-page rows stay in their input partition, and corpus
rollups hang partial-agg groupBys off the exploded output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_META_TAG = r"<meta\s[^>]*>"


def _attr(m, name: str):
    # double- then single-quoted; first non-empty wins
    dq = F.regexp_extract(m, name + r'\s*=\s*"([^"]*)"', 1)
    sq = F.regexp_extract(m, name + r"\s*=\s*'([^']*)'", 1)
    return F.when(dq != "", dq).otherwise(sq)


def meta_tags(docs: DataFrame,
              id_col: str = "doc_id") -> DataFrame:
    """One row per ``<meta>`` tag carrying a name= or property= key:
    ``(id, kind, key, content)`` with ``kind`` in {'name','property',
    'http-equiv'},
    key lowercased, attribute ORDER-independent (name before content or
    after — both forms are served in the wild)."""
    m = F.col("_m")
    name_k = _attr(m, "name")
    prop_k = _attr(m, "property")
    he_k = _attr(m, "http-equiv")
    tags = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.col("html").cast("string"), F.lit(_META_TAG), 0
            )
        ).alias("_m"),
    )
    return (
        tags.select(
            id_col,
            F.when(name_k != "", F.lit("name"))
            .when(prop_k != "", F.lit("property"))
            .when(he_k != "", F.lit("http-equiv")).alias("kind"),
            F.lower(
                F.when(name_k != "", name_k)
                .when(prop_k != "", prop_k)
                .otherwise(he_k)
            ).alias("key"),
            F.coalesce(_attr(m, "content"), F.lit("")).alias("content"),
        )
        .filter(F.col("kind").isNotNull())
    )


def robots_meta_flags(docs: DataFrame,
                      id_col: str = "doc_id") -> DataFrame:
    """Per-page robots-directive flags from ``<meta name=robots>``:
    ``(id, noindex, nofollow, indexable)`` — content is a
    comma-separated token list per the robots-meta spec ('none' =
    noindex,nofollow); pages without the tag default to fully
    indexable. One partial-agg groupBy over the (tiny) per-page meta
    rows; pages with NO meta tags at all re-enter via a left join on
    the id key."""
    m = meta_tags(docs, id_col=id_col)
    toks = m.filter(F.col("key") == "robots").select(
        id_col,
        F.explode(F.split(F.lower("content"), ",")).alias("_t"),
    ).select(id_col, F.trim("_t").alias("_t"))
    flags = toks.groupBy(id_col).agg(
        F.max(F.when(F.col("_t").isin("noindex", "none"), 1)
              .otherwise(0)).alias("noindex"),
        F.max(F.when(F.col("_t").isin("nofollow", "none"), 1)
              .otherwise(0)).alias("nofollow"),
    )
    return (
        docs.select(id_col)
        .join(flags, id_col, "left")
        .select(
            id_col,
            F.coalesce("noindex", F.lit(0)).cast("int").alias("noindex"),
            F.coalesce("nofollow", F.lit(0)).cast("int")
            .alias("nofollow"),
            (1 - F.coalesce("noindex", F.lit(0))).cast("int")
            .alias("indexable"),
        )
    )


def jsonld_entities(docs: DataFrame,
                    schema: str = "`@type` string, name string"
                    ) -> DataFrame:
    """schema.org JSON-LD entities: every
    ``<script type="application/ld+json">`` payload parsed with
    from_json (JVM Jackson — malformed payloads yield NULL fields, the
    tolerant-reader behavior structured-data pipelines want):
    ``(id, block_idx, entity_type, entity_name)``."""
    blocks = docs.select(
        F.col("doc_id"),
        F.posexplode(
            F.regexp_extract_all(
                F.col("html").cast("string"),
                F.lit(r'<script type="application/ld\+json">(.*?)'
                      r"</script>"),
                1,
            )
        ).alias("block_idx", "_payload"),
    )
    e = F.from_json(F.col("_payload"), schema)
    return blocks.select(
        "doc_id",
        F.col("block_idx").cast("int").alias("block_idx"),
        e.getField("@type").alias("entity_type"),
        e.getField("name").alias("entity_name"),
    )


_LINK_TAG = r"<link\s[^>]*>"


def link_tags(docs: DataFrame,
              id_col: str = "doc_id") -> DataFrame:
    """One row per ``<link>`` head element: ``(id, rel, href,
    hreflang)`` — rel lowercased, hreflang lowercased ('' when
    absent). Same JVM void-element regexp regime as :func:`meta_tags`.
    """
    m = F.col("_l")
    tags = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.col("html").cast("string"), F.lit(_LINK_TAG), 0
            )
        ).alias("_l"),
    )
    return (
        tags.select(
            id_col,
            F.lower(F.coalesce(_attr(m, "rel"), F.lit("")))
            .alias("rel"),
            F.coalesce(_attr(m, "href"), F.lit("")).alias("href"),
            F.lower(F.coalesce(_attr(m, "hreflang"), F.lit("")))
            .alias("hreflang"),
        )
        .filter(F.col("href") != "")
    )


def hreflang_reciprocity(pages: DataFrame) -> DataFrame:
    """hreflang return-tag audit (THE classic international-SEO check:
    if A lists B as an alternate, B must list A back or search engines
    ignore the pair): one row per alternate edge ``(url, alt_url,
    lang, reciprocal)``.

    Plan: link_tags' codegen extraction → one self equi-join of the
    edge set on the reversed (url, alt_url) key — the same
    symmetric-edge check as link reciprocity (q145), keyed by url so
    it co-locates with any url-bucketed page store. No window, no
    Python."""
    alts = link_tags(
        pages.select(F.col("url"), F.col("html")),
        id_col="url",
    ).filter(
        (F.col("rel") == "alternate") & (F.col("hreflang") != "")
    ).select(
        "url", F.col("href").alias("alt_url"),
        F.col("hreflang").alias("lang"),
    )
    back = alts.select(
        F.col("alt_url").alias("url"), F.col("url").alias("alt_url"),
        F.lit(1).alias("_has_back"),
    ).dropDuplicates(["url", "alt_url"])
    return (
        alts.join(back, ["url", "alt_url"], "left")
        .select(
            "url", "alt_url", "lang",
            F.coalesce("_has_back", F.lit(0)).cast("int")
            .alias("reciprocal"),
        )
    )


def canonical_resolve(pages: DataFrame, max_hops: int = 2) -> DataFrame:
    """rel=canonical CHAIN resolution: each page's canonical pointer
    followed to its terminal target via pointer jumping —
    ``max_hops`` doublings resolve chains up to 2^max_hops links, the
    log-step trick the connected-components labeler (q50) uses, so
    even pathological chains cost O(log L) self-joins, never a
    per-link loop. Output: ``(url, canonical, hops)`` — hops = 0 for
    self-canonical / no-tag pages; chains and the final flattening a
    canonical-dedup pass needs.

    Audit semantics: chains (hops > 1) are the misconfiguration SEO
    audits flag — engines may ignore multi-hop canonicals entirely.
    """
    canon = link_tags(
        pages.select(F.col("url"), F.col("html")),
        id_col="url",
    ).filter(F.col("rel") == "canonical").select(
        "url", F.col("href").alias("canonical")
    ).dropDuplicates(["url"])

    cur = (
        pages.select(F.col("url"))
        .join(canon, "url", "left")
        .select(
            "url",
            F.coalesce("canonical", F.col("url")).alias("canonical"),
            F.when(F.col("canonical").isNotNull()
                   & (F.col("canonical") != F.col("url")), F.lit(1))
            .otherwise(F.lit(0)).cast("bigint").alias("hops"),
        )
    )
    # materialize the (url, canonical, hops) pointer table once: each
    # jump round otherwise REPLAYS the extraction lineage on both join
    # sides (2 rounds -> 4x page parses; measured 62 s -> 9 s at
    # sf0.01). At corpus scale this is the persisted canonical edge
    # table a dedup pass would read anyway.
    cur = cur.localCheckpoint(eager=False)
    for _ in range(int(max_hops)):
        nxt = cur.select(
            F.col("url").alias("canonical"),
            F.col("canonical").alias("_c2"),
            F.col("hops").alias("_h2"),
        )
        cur = (
            cur.join(nxt, "canonical", "left")
            .select(
                "url",
                F.coalesce("_c2", F.col("canonical")).alias("canonical"),
                (F.col("hops") + F.coalesce("_h2", F.lit(0)))
                .cast("bigint").alias("hops"),
            )
        )
    return cur.select(
        "url", "canonical", F.col("hops").cast("int").alias("hops")
    )


_IMG_TAG = r"<img\s[^>]*>"


def image_sources(docs: DataFrame,
                  id_col: str = "doc_id") -> DataFrame:
    """Modern image-source inventory: one row per ``<img>`` —
    ``(id, img_idx, src, effective_src, n_variants, widest_src)``.

    The reference's image inventory reads only src/alt
    (crawler.py:86-89); real pages lazy-load (placeholder ``src`` +
    ``data-src``) and serve responsive ``srcset`` variant lists.
    ``effective_src`` prefers ``data-src`` (the lazy-load convention);
    ``widest_src`` is the srcset variant with the largest
    ``<int>w`` width descriptor (x-density descriptors rank 0), NULL
    when no srcset. All parsing is codegen: img is a void element,
    srcset a comma-separated microsyntax — transform + regexp +
    array_max(struct) JVM-side, no Python, no shuffle."""
    m = F.col("_i")
    variants = F.transform(
        F.split(_attr(m, "srcset"), ","),
        lambda v: F.struct(
            F.coalesce(
                # try_cast: x-density descriptors ('2x') have no width
                # digits and must rank 0, not throw under ANSI mode
                F.regexp_extract(F.trim(v), r"\s(\d+)w$", 1)
                .try_cast("int"),
                F.lit(0),
            ).alias("w"),
            F.regexp_extract(F.trim(v), r"^(\S+)", 1).alias("u"),
        ),
    )
    has_srcset = _attr(m, "srcset") != ""
    src = _attr(m, "src")
    dsrc = _attr(m, "data-src")
    return docs.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(
                F.col("html").cast("string"), F.lit(_IMG_TAG), 0
            )
        ).alias("img_idx", "_i"),
    ).select(
        id_col,
        F.col("img_idx").cast("int").alias("img_idx"),
        F.coalesce(src, F.lit("")).alias("src"),
        F.when(dsrc != "", dsrc).otherwise(F.coalesce(src, F.lit("")))
        .alias("effective_src"),
        F.when(has_srcset, F.size(variants)).otherwise(F.lit(0))
        .cast("int").alias("n_variants"),
        F.when(has_srcset, F.array_max(variants).getField("u"))
        .alias("widest_src"),
    )


def mixed_content_audit(pages: DataFrame) -> DataFrame:
    """Mixed-content audit: resources loaded over ``http://`` from an
    ``https://`` page — browsers block or warn on these, and SEO/
    security audits flag them. Counts per page over img src,
    data-src, srcset variants AND <link href>: ``(url, n_resources,
    n_insecure, mixed)``. Codegen end to end; one partial-agg groupBy
    on the page key."""
    imgs = image_sources(pages, id_col="url")
    img_urls = (
        imgs.select(F.col("url"), F.col("effective_src").alias("_r"))
        .unionByName(
            imgs.filter(F.col("widest_src").isNotNull())
            .select(F.col("url"), F.col("widest_src").alias("_r"))
        )
    )
    links = link_tags(pages, id_col="url").select(
        F.col("url"), F.col("href").alias("_r")
    )
    res = img_urls.unionByName(links).filter(F.col("_r") != "")
    flags = res.groupBy("url").agg(
        F.count("*").cast("bigint").alias("n_resources"),
        F.sum(
            F.when(F.col("_r").startswith("http://"), 1).otherwise(0)
        ).cast("bigint").alias("n_insecure"),
    )
    return (
        pages.select(F.col("url"))
        .join(flags, "url", "left")
        .select(
            "url",
            F.coalesce("n_resources", F.lit(0)).cast("bigint")
            .alias("n_resources"),
            F.coalesce("n_insecure", F.lit(0)).cast("bigint")
            .alias("n_insecure"),
            F.when(
                F.col("url").startswith("https://")
                & (F.coalesce("n_insecure", F.lit(0)) > 0), 1
            ).otherwise(0).cast("int").alias("mixed"),
        )
    )


def client_redirects(pages: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Client-side redirect extraction — the two channels crawlers
    must honor beyond HTTP 3xx: ``<meta http-equiv=refresh>`` (with
    its delay) and the ``window.location`` / ``location.href``
    JavaScript assignment (the cloaking-detection staple: a 0-delay
    client redirect on a content-bearing page is a classic spam
    signal). One row per redirect: ``(id, kind, delay_s, target)``,
    kind in {'meta','js'}; meta delay parses from the
    ``N;url=...`` content microsyntax (try_cast guards junk), JS
    redirects report delay 0. Codegen regexp end to end."""
    html = F.col("html").cast("string")
    metas = pages.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                html,
                F.lit(r'(?i)<meta\s[^>]*http-equiv\s*=\s*"refresh"'
                      r"[^>]*>"),
                0,
            )
        ).alias("_m"),
    )
    content = _attr(F.col("_m"), "content")
    meta_r = metas.select(
        id_col,
        F.lit("meta").alias("kind"),
        F.coalesce(
            F.regexp_extract(content, r"^\s*(\d+)", 1).try_cast("int"),
            F.lit(0),
        ).alias("delay_s"),
        F.trim(
            F.regexp_extract(content, r"(?i)url\s*=\s*'?([^;']+)", 1)
        ).alias("target"),
    ).filter(F.col("target") != "")
    js_r = pages.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                html,
                F.lit(r"(?:window\.location(?:\.href)?|location\.href)"
                      r"\s*=\s*['\"]([^'\"]+)['\"]"),
                1,
            )
        ).alias("target"),
    ).select(
        id_col, F.lit("js").alias("kind"),
        F.lit(0).cast("int").alias("delay_s"), "target",
    )
    return meta_r.unionByName(js_r)


def a11y_audit(pages: DataFrame) -> DataFrame:
    """Accessibility / document-outline audit per page: ``(id,
    n_images, n_missing_alt, n_h1, n_level_skips)`` — images without
    alt text and broken heading ladders (an h3 directly under an h1,
    multiple h1s) are both WCAG findings and page-quality signals a
    curation gate can threshold on.

    Everything is codegen: img tags via the void-element regexp (alt
    presence = attribute match), the heading-level sequence via
    regexp_extract_all + zip_with over the array and its shifted self
    (a level skip is next > prev + 1) — no walker pass, no Python,
    no shuffle."""
    html = F.col("html").cast("string")
    imgs = F.regexp_extract_all(html, F.lit(_IMG_TAG), 0)
    n_images = F.size(imgs)
    n_missing_alt = F.size(
        F.filter(
            imgs,
            lambda t: ~(
                t.rlike(r'alt\s*=\s*"') | t.rlike(r"alt\s*=\s*'")
            ),
        )
    )
    levels = F.transform(
        F.regexp_extract_all(html, F.lit(r"(?i)<h([1-6])[\s>]"), 1),
        lambda s: s.cast("int"),
    )
    n = F.size(levels)
    skips = F.when(
        n >= 2,
        F.size(
            F.filter(
                F.zip_with(
                    F.slice(levels, 1, n - 1),
                    F.slice(levels, 2, n - 1),
                    lambda a, b: b > a + 1,
                ),
                lambda x: x,
            )
        ),
    ).otherwise(F.lit(0))
    # a leading non-h1 heading is also an outline break (skip from
    # the implicit document root)
    lead = F.when(
        (n >= 1) & (F.element_at(levels, 1) > 1), 1
    ).otherwise(0)
    return pages.select(
        F.col("doc_id"),
        n_images.cast("int").alias("n_images"),
        n_missing_alt.cast("int").alias("n_missing_alt"),
        F.size(F.filter(levels, lambda v: v == 1)).cast("int")
        .alias("n_h1"),
        (skips + lead).cast("int").alias("n_level_skips"),
    )


def third_party_census(pages: DataFrame) -> DataFrame:
    """Third-party dependency census (the WebCensus-style privacy /
    performance measurement): which OFF-SITE hosts does each site
    embed? Resources = script src + link href + img src/srcset
    variants; a resource is third-party when its host differs from
    the page's. Output per (site_host, third_party_host):
    ``(site_host, third_party_host, n_pages)`` — n_pages counts
    DISTINCT embedding pages, the metric tracker-prevalence studies
    report. Codegen extraction + one distinct + one partial-agg
    groupBy on the site-host-prefixed key."""
    page_host = F.lower(
        F.regexp_extract(F.col("url"), r"^[a-z]+://([^/:]+)", 1)
    )
    html = F.col("html").cast("string")
    res = F.concat(
        F.regexp_extract_all(
            html, F.lit(r'<script\s[^>]*src\s*=\s*"([^"]*)"'), 1
        ),
        F.regexp_extract_all(
            html, F.lit(r'<link\s[^>]*href\s*=\s*"([^"]*)"'), 1
        ),
        F.regexp_extract_all(
            html, F.lit(r'<img\s[^>]*src\s*=\s*"([^"]*)"'), 1
        ),
    )
    rows = pages.select(
        F.col("url").alias("_page"),
        page_host.alias("site_host"),
        F.explode(res).alias("_r"),
    )
    r_host = F.lower(F.regexp_extract("_r", r"^[a-z]+://([^/:]+)", 1))
    return (
        rows.select("_page", "site_host", r_host.alias("third_party_host"))
        .filter(
            (F.col("third_party_host") != "")
            & (F.col("third_party_host") != F.col("site_host"))
        )
        .dropDuplicates(["_page", "site_host", "third_party_host"])
        .groupBy("site_host", "third_party_host")
        .agg(F.count("*").cast("bigint").alias("n_pages"))
    )


def broken_fragment_links(pages: DataFrame) -> DataFrame:
    """Broken in-page fragment links: ``<a href="#x">`` with no
    matching ``id="x"`` (or legacy ``<a name="x">``) anywhere on the
    page — dead table-of-contents entries, the link-integrity bug
    static-site generators introduce constantly. Per page: ``(id,
    n_fragment_links, n_broken)``.

    Entirely array codegen: both sides extract with
    regexp_extract_all and the broken set is one array_except — no
    explode, no join, no shuffle; the page's link integrity is a
    per-row computation exactly as it should be."""
    html = F.col("html").cast("string")
    frags = F.regexp_extract_all(
        html, F.lit(r'<a\s[^>]*href\s*=\s*"#([^"]+)"'), 1
    )
    ids = F.concat(
        F.regexp_extract_all(
            html, F.lit(r'\sid\s*=\s*"([^"]*)"'), 1
        ),
        F.regexp_extract_all(
            html, F.lit(r'<a\s[^>]*name\s*=\s*"([^"]*)"'), 1
        ),
    )
    broken = F.array_except(F.array_distinct(frags), ids)
    return pages.select(
        F.col("doc_id"),
        F.size(frags).cast("int").alias("n_fragment_links"),
        F.size(broken).cast("int").alias("n_broken"),
    )


def html_lang_attr(pages: DataFrame) -> DataFrame:
    """``<html lang>`` attribute relation: ``(id, lang_attr,
    lang_primary)`` — the document-level language DECLARATION, the
    third vertex of the language-consistency triangle next to the
    fetch-layer label (q197 checks it against detection) and the
    content-based guess (q25). ``lang_primary`` strips the region
    subtag (en-GB → en) since that is what routing and per-language
    model selection key on; pages without the attribute yield ''.
    Codegen regexp on the root element only."""
    attr = F.lower(
        F.regexp_extract(
            F.col("html").cast("string"),
            r'(?i)<html\s[^>]*lang\s*=\s*["\x27]([^"\x27]*)["\x27]', 1,
        )
    )
    return pages.select(
        F.col("doc_id"),
        attr.alias("lang_attr"),
        F.split(attr, "-")[0].alias("lang_primary"),
    )


def csp_directives(pages: DataFrame) -> DataFrame:
    """Content-Security-Policy directive relation from the meta
    http-equiv channel: ``(id, directive, source)`` — one row per
    (directive, source-expression) pair, the normalized form
    security-posture rollups aggregate (what share of a site allows
    'unsafe-inline'? which third parties are script-src-whitelisted —
    join against q294's observed census to catch policy/reality
    drift). Source-less directives (``upgrade-insecure-requests``)
    emit one row with source ''. Codegen: meta extraction + two-level
    split/explode, no Python, no shuffle."""
    m = meta_tags(pages)
    pol = m.filter(
        F.col("key") == "content-security-policy"
    ).select("doc_id", F.explode(F.split("content", ";")).alias("_d"))
    toks = F.filter(
        F.split(F.trim("_d"), r"\s+"), lambda t: t != ""
    )
    return (
        pol.select(
            "doc_id", toks.alias("_t")
        )
        .filter(F.size("_t") >= 1)
        .select(
            "doc_id",
            F.lower(F.element_at("_t", 1)).alias("directive"),
            F.explode(
                F.when(
                    F.size("_t") > 1, F.slice("_t", 2, F.size("_t") - 1)
                ).otherwise(F.array(F.lit("")))
            ).alias("source"),
        )
    )


def form_census(pages: DataFrame) -> DataFrame:
    """FORM inventory per page: one row per ``<form>`` block —
    ``(id, form_idx, action, method, n_inputs, n_password, n_email,
    n_hidden, kind)`` with ``kind`` in {'login','search','newsletter',
    'other'} by deterministic rules: any password input → login; any
    search-typed/named input → search; an email input on a ≤2-field
    form → newsletter. The curation use: login/signup gate pages and
    search-result shells are navigation chrome, not prose — corpora
    filter them (their extracted text is near-empty boilerplate), and
    crawl frontiers stop expanding behind login walls. The reference
    never looks at forms (`/root/reference/tribeca_insights/
    crawler.py` reads title/meta/links only) — beyond-parity page
    understanding.

    Shape: regexp_extract_all over the page string → posexplode →
    per-form codegen attribute pulls and higher-order-function counts.
    Zero shuffle, zero Python; rows stay in their input partition.
    """
    forms = pages.select(
        F.col("doc_id"),
        F.posexplode(
            F.regexp_extract_all(
                F.col("html").cast("string"),
                F.lit(r"(?s)<form\b[^>]*>.*?</form>"), 0,
            )
        ).alias("_p", "_f"),
    )
    f = F.col("_f")
    head = F.regexp_extract(f, r"^<form\b[^>]*>", 0)
    method = F.lower(F.coalesce(_attr(head, "method"), F.lit("")))
    inputs = F.regexp_extract_all(
        f, F.lit(r"<(?:input|textarea|select)\b[^>]*>"), 0
    )

    def _n(pat):
        return F.size(F.filter(inputs, lambda i: i.rlike(pat)))

    n_password = _n(r'(?i)type\s*=\s*["\x27]?password')
    n_email = _n(r'(?i)type\s*=\s*["\x27]?email')
    n_hidden = _n(r'(?i)type\s*=\s*["\x27]?hidden')
    n_search = _n(
        r'(?i)(type\s*=\s*["\x27]?search|name\s*=\s*["\x27]?'
        r'(q|s|search|query)["\x27\s>])'
    )
    n_inputs = F.size(inputs)
    return forms.select(
        "doc_id",
        (F.col("_p") + 1).cast("int").alias("form_idx"),
        F.coalesce(_attr(head, "action"), F.lit("")).alias("action"),
        F.when(method == "", "get").otherwise(method).alias("method"),
        n_inputs.cast("int").alias("n_inputs"),
        n_password.cast("int").alias("n_password"),
        n_email.cast("int").alias("n_email"),
        n_hidden.cast("int").alias("n_hidden"),
        F.when(n_password > 0, "login")
        .when(n_search > 0, "search")
        .when((n_email > 0) & (n_inputs <= 2), "newsletter")
        .otherwise("other").alias("kind"),
    )


def microdata_items(pages: DataFrame) -> DataFrame:
    """Schema.org MICRODATA extraction (the itemscope/itemprop channel
    — the third structured-data surface next to JSON-LD
    (jsonld_entities) and OpenGraph (meta_tags): older commerce and
    article pages mark up with microdata only). Flat single-scope
    contract: ``(id, itemtype, prop, value)`` — itemtype is the
    page's FIRST declared ``itemtype`` (short name, schema.org prefix
    stripped), one row per ``itemprop``; ``value`` is the ``content=``
    attribute when present (meta-style props) else the element's
    immediate text. Nested scopes need the tree walker — this is the
    codegen fast path that covers the dominant one-scope-per-page
    layout.

    Shape: two regexp channels + explode, zero shuffle, zero Python.
    """
    h = F.col("html").cast("string")
    itemtype = F.regexp_extract(
        h, r'itemtype\s*=\s*["\x27]?(?:https?://)?schema\.org/([A-Za-z]+)', 1
    )
    props = F.regexp_extract_all(
        h, F.lit(r"(?s)<[a-zA-Z][^>]*\bitemprop\s*=[^>]*>[^<]*"), 0
    )
    rows = pages.select(
        F.col("doc_id"),
        itemtype.alias("itemtype"),
        F.explode(props).alias("_e"),
    )
    e = F.col("_e")
    tag = F.regexp_extract(e, r"^(<[^>]*>)", 1)
    prop = F.lower(_attr(tag, "itemprop"))
    content = _attr(tag, "content")
    text = F.trim(F.regexp_extract(e, r">([^<]*)$", 1))
    return rows.select(
        "doc_id",
        "itemtype",
        prop.alias("prop"),
        F.when(content != "", content).otherwise(text).alias("value"),
    )


def publish_dates(pages: DataFrame) -> DataFrame:
    """Best-effort PUBLISH-DATE resolution per page with a declared
    precedence ladder — ``(id, pub_date, channel)``, channel in
    {'meta','jsonld','url'} or NULL when no signal exists:

    1. ``<meta property="article:published_time">`` (the OpenGraph
       article channel — most precise, editor-controlled);
    2. JSON-LD ``datePublished`` (schema.org NewsArticle et al.);
    3. a ``/YYYY/MM/`` URL path segment (blog permalink convention;
       resolves to the first of the month).

    Temporal metadata is a first-class curation axis at corpus scale:
    dated corpora support cutoff-aware training splits, recency
    weighting, and contamination windows — and the three channels
    disagree often enough that the precedence must be explicit and
    testable. All channels are targeted regexp pulls + to_date /
    make_date in codegen; zero shuffle, zero Python.
    """
    h = F.col("html").cast("string")
    u = F.col("url")
    m_tag = F.regexp_extract(
        h,
        r'<meta\s[^>]*property\s*=\s*["\x27]article:published_time'
        r'["\x27][^>]*>', 0,
    )
    meta_val = _attr(m_tag, "content")
    jsonld_val = F.regexp_extract(h, r'"datePublished"\s*:\s*"([^"]+)"', 1)
    yr = F.regexp_extract(u, r"/((?:19|20)\d{2})/(?:0[1-9]|1[0-2])/", 1)
    mo = F.regexp_extract(u, r"/(?:19|20)\d{2}/(0[1-9]|1[0-2])/", 1)
    pub = (
        F.when(meta_val != "", F.to_date(F.substring(meta_val, 1, 10)))
        .when(jsonld_val != "", F.to_date(F.substring(jsonld_val, 1, 10)))
        .when(yr != "",
              F.make_date(yr.cast("int"), mo.cast("int"), F.lit(1)))
    )
    channel = (
        F.when(meta_val != "", "meta")
        .when(jsonld_val != "", "jsonld")
        .when(yr != "", "url")
    )
    return pages.select(
        F.col("doc_id"), pub.alias("pub_date"), channel.alias("channel")
    )


def pagination_audit(pages: DataFrame) -> DataFrame:
    """``rel=next`` / ``rel=prev`` PAGINATION audit: per page —
    ``(url, next_url, prev_url, next_reciprocal, is_first, is_last)``
    with ``next_reciprocal = 1`` iff the declared next page declares
    THIS page as its prev (NULL when there is no next). Paginated
    archives are the dominant multi-page unit on the web; a frontier
    that understands chains fetches them as one logical document
    (composing with q116 chunking), and broken reciprocity is the
    standard signal of misdeclared pagination that creates crawl
    traps and split/duplicated content. Chain ROOTS are
    ``is_first = 1`` rows; full chain assembly reuses the
    pointer-jump machinery of canonical_resolve/q272.

    Shape: link_tags codegen extraction → one partial-agg groupBy per
    page → ONE self-join on the next-pointer key (url-keyed equi-join
    — at 10^12 pages both sides are url-bucketed, co-partitioned with
    every other url-keyed state table). No windows, no Python.
    """
    links = link_tags(pages, id_col="url")
    ptrs = (
        links.filter(F.col("rel").isin("next", "prev"))
        .groupBy("url")
        .agg(
            F.max(F.when(F.col("rel") == "next", F.col("href")))
            .alias("next_url"),
            F.max(F.when(F.col("rel") == "prev", F.col("href")))
            .alias("prev_url"),
        )
    )
    base = pages.select(F.col("url")).distinct().join(
        ptrs, "url", "left"
    )
    nxt = base.select(
        F.col("url").alias("_nu"), F.col("prev_url").alias("_nprev")
    )
    return (
        base.join(nxt, base["next_url"] == nxt["_nu"], "left")
        .select(
            "url", "next_url", "prev_url",
            F.when(
                F.col("next_url").isNotNull(),
                F.when(F.col("_nprev") == F.col("url"), 1).otherwise(0),
            ).cast("int").alias("next_reciprocal"),
            F.when(F.col("prev_url").isNull(), 1).otherwise(0)
            .cast("int").alias("is_first"),
            F.when(F.col("next_url").isNull(), 1).otherwise(0)
            .cast("int").alias("is_last"),
        )
    )


def amp_pages(pages: DataFrame) -> DataFrame:
    """AMP variant detection and canonical pairing: ``(url, is_amp,
    amphtml_url, canonical_url, pair_url)`` — ``is_amp`` from the
    ``<html amp>`` / ``<html ⚡>`` attribute (the public AMP spec's
    marker), ``amphtml_url`` from the canonical page's
    ``link rel=amphtml`` pointer, ``canonical_url`` from the AMP
    page's required back-pointer, and ``pair_url`` = the other half
    of the pair whichever side this page is. AMP mirrors are the
    single largest systematic near-duplicate family on the mobile
    web: every paired page exists twice with rewritten markup, so a
    corpus that doesn't collapse AMP↔canonical double-counts those
    documents (and their links). The pair relation feeds the same
    keep-best machinery as q75 — content hashing never sees these as
    exact dupes because the markup differs.

    Codegen: one html-tag attribute probe + the link_tags channel,
    zero shuffle beyond the per-page partial agg."""
    tags = link_tags(pages, id_col="url")
    ptrs = (
        tags.filter(F.col("rel").isin("amphtml", "canonical"))
        .groupBy("url")
        .agg(
            F.max(F.when(F.col("rel") == "amphtml", F.col("href")))
            .alias("amphtml_url"),
            F.max(F.when(F.col("rel") == "canonical", F.col("href")))
            .alias("canonical_url"),
        )
    )
    h = F.col("html").cast("string")
    is_amp = F.when(
        F.regexp_extract(
            h, r"(?s)<html[^>]*[\s](amp|⚡)[\s>=]", 1
        ) != "", 1
    ).otherwise(0)
    base = pages.select(
        F.col("url"), is_amp.cast("int").alias("is_amp")
    ).join(ptrs, "url", "left")
    return base.select(
        "url", "is_amp", "amphtml_url", "canonical_url",
        F.when(F.col("is_amp") == 1, F.col("canonical_url"))
        .otherwise(F.col("amphtml_url")).alias("pair_url"),
    )


def noindex_inlink_audit(pages: DataFrame, edges: DataFrame) -> DataFrame:
    """NOINDEX-but-LINKED contradiction audit: ``(url, noindex,
    n_inlinks, wasted)`` — pages whose robots meta says noindex yet
    receive internal links. The two consumers: SEO (link equity
    flowing into pages that can't rank is site-architecture waste —
    the reference's report surface never cross-references its link
    inventory with directives) and crawl economics (a frontier can
    deprioritize fetching well-linked-but-noindexed URL families).
    Composes robots_meta_flags (q267) with the link-edge relation
    (q270's rel-aware edges are the natural feed).

    Shape: per-page codegen flags + ONE partial-agg in-degree groupBy
    on dst + a url-keyed left join — at 10^12 pages both sides are
    url-bucketed; no windows."""
    flags = robots_meta_flags(pages, id_col="url")
    indeg = edges.groupBy(F.col("dst").alias("url")).agg(
        F.count("*").cast("bigint").alias("n_inlinks")
    )
    return (
        flags.join(indeg, "url", "left")
        .select(
            "url", "noindex",
            F.coalesce("n_inlinks", F.lit(0)).cast("bigint")
            .alias("n_inlinks"),
            F.when(
                (F.col("noindex") == 1)
                & (F.coalesce("n_inlinks", F.lit(0)) > 0), 1
            ).otherwise(0).cast("int").alias("wasted"),
        )
    )


def title_duplication(pages: DataFrame) -> DataFrame:
    """Per-host DUPLICATE-TITLE clusters: ``(host, title, n_pages,
    is_dup)`` — the metadata-level template-farm signal (every page
    of a scraped site shares one boilerplate title) and the classic
    SEO duplicate-title audit row. Complements body-level template
    detection (q94/q96): titles duplicate even when body text was
    spun. One map-combined groupBy on the (host, title) key — at
    10^12 pages the key is host-prefixed, co-locating with every
    other host-bucketed rollup; no windows, no Python."""
    return (
        pages.groupBy(
            F.col("host"), F.col("title")
        )
        .agg(F.count("*").cast("bigint").alias("n_pages"))
        .select(
            "host", "title", "n_pages",
            F.when(F.col("n_pages") > 1, 1).otherwise(0).cast("int")
            .alias("is_dup"),
        )
    )


def article_completeness(pages: DataFrame) -> DataFrame:
    """ARTICLE-METADATA completeness card: ``(id, has_title,
    has_date, has_author, completeness)`` — unifies every structured-
    data channel this engine extracts: title from ``<title>`` or
    ``og:title``; date from the publish_dates precedence ladder
    (meta / JSON-LD / URL, q309); author from ``<meta name=author>``,
    JSON-LD ``author`` or microdata ``itemprop=author``. The corpus
    use: completeness stratifies article-like pages for weighting
    and datasheet reporting (a page with byline+date+headline is
    overwhelmingly a real article; 0-of-3 pages are navigation or
    shells), and per-site completeness feeds the q300 health card.

    All channels are the already-audited codegen extractors composed
    on one row — zero shuffle, zero Python, no joins beyond
    publish_dates' none."""
    h = F.col("html").cast("string")
    has_title = F.when(
        (F.regexp_extract(h, r"<title[^>]*>\s*([^<\s][^<]*?)\s*</title>", 1)
         != "")
        | (F.regexp_extract(
            h, r'<meta\s[^>]*property\s*=\s*["\x27]og:title["\x27][^>]*>',
            0) != ""),
        1,
    ).otherwise(0)
    has_author = F.when(
        (F.regexp_extract(
            h, r'<meta\s[^>]*name\s*=\s*["\x27]author["\x27][^>]*>', 0)
         != "")
        | (F.regexp_extract(h, r'"author"\s*:', 0) != "")
        | (F.regexp_extract(
            h, r'itemprop\s*=\s*["\x27]?author', 0) != ""),
        1,
    ).otherwise(0)
    dated = publish_dates(pages)
    base = pages.select(
        F.col("doc_id"),
        has_title.cast("int").alias("has_title"),
        has_author.cast("int").alias("has_author"),
    )
    return (
        base.join(dated.select("doc_id", "channel"), "doc_id")
        .select(
            "doc_id",
            "has_title",
            F.when(F.col("channel").isNotNull(), 1).otherwise(0)
            .cast("int").alias("has_date"),
            "has_author",
        )
        .select(
            "doc_id", "has_title", "has_date", "has_author",
            (F.col("has_title") + F.col("has_date") + F.col("has_author"))
            .cast("int").alias("completeness"),
        )
    )


def page_roles(pages: DataFrame) -> DataFrame:
    """Unified PAGE-ROLE taxonomy: ``(url, role)`` with role ∈
    {'redirect-shell', 'amp-variant', 'pagination-continuation',
    'noindex', 'content'} by declared precedence — the single label a
    crawl scheduler and a corpus builder both key on. Precedence
    (most-disqualifying first): a client-redirecting page is a shell
    whatever else it claims; an AMP variant is a duplicate of its
    canonical; a non-first paginated page is a continuation (fetch
    with its chain, don't count as a document); a noindexed page is
    excluded by site policy; everything else is content.

    Composes four audited channels on one row: client_redirects
    (q291), amp_pages (q319), pagination_audit (q317),
    robots_meta_flags (q267). Each channel is codegen; the
    composition is three url-keyed left joins against per-page
    relations (url-bucketed co-location at scale), no windows."""
    red = client_redirects(pages, id_col="url") \
        .select(F.col("url")).distinct() \
        .withColumn("_redirect", F.lit(1))
    amp = amp_pages(pages).select(
        "url", F.col("is_amp").alias("_amp")
    )
    pag = pagination_audit(pages) \
        .select("url", F.col("is_first").alias("_first"))
    rob = robots_meta_flags(pages, id_col="url") \
        .select(F.col("url"),
                F.col("noindex").alias("_noindex"))
    base = pages.select(F.col("url")).distinct()
    j = (
        base.join(red, "url", "left")
        .join(amp, "url", "left")
        .join(pag, "url", "left")
        .join(rob, "url", "left")
    )
    return j.select(
        "url",
        F.when(F.col("_redirect") == 1, "redirect-shell")
        .when(F.col("_amp") == 1, "amp-variant")
        .when(F.coalesce("_first", F.lit(1)) == 0,
              "pagination-continuation")
        .when(F.col("_noindex") == 1, "noindex")
        .otherwise("content").alias("role"),
    )


def jsonld_article_body(pages: DataFrame) -> DataFrame:
    """JSON-LD ``articleBody`` as an extraction CROSS-CHECK channel:
    ``(id, has_articlebody, body_len, extracted_len,
    len_ratio_micros)`` — news publishers embed the full article
    text in their NewsArticle JSON-LD, which gives a per-page
    ground-truth-ish reference for the DOM extractor: a much longer
    articleBody than extracted text means the extractor dropped
    content (over-aggressive boilerplate stripping); a much shorter
    one means the page serves a teaser in markup (paywall stub,
    composing with q332's paywall_hint). ratio = floor(1e6 ·
    extracted/body), NULL when no articleBody. The extraction-eval
    composition next to q259's golden fixtures — this one needs no
    fixtures, the web supplies the reference. Codegen regexp pull +
    length arithmetic; zero shuffle. Known bound: the regexp captures
    up to the first unescaped quote, so bodies containing escaped
    ``\"`` report a TRUNCATED body_len (ratio skews high, never
    low) — the full JSON parse (q269's from_json channel) is the
    escalation path when exact lengths matter."""
    h = F.col("html").cast("string")
    body = F.regexp_extract(h, r'"articleBody"\s*:\s*"([^"]*)"', 1)
    has = F.when(body != "", 1).otherwise(0)
    staged = pages.select(
        F.col("doc_id"),
        has.cast("int").alias("has_articlebody"),
        F.length(body).cast("long").alias("_blen"),
        F.length(F.col("text")).cast("long").alias("_elen"),
    )
    return staged.select(
        "doc_id",
        "has_articlebody",
        F.when(F.col("has_articlebody") == 1, F.col("_blen"))
        .cast("int").alias("body_len"),
        F.col("_elen").cast("int").alias("extracted_len"),
        F.when(
            (F.col("has_articlebody") == 1) & (F.col("_blen") > 0),
            F.expr("1000000L * _elen div _blen"),
        ).cast("bigint").alias("len_ratio_micros"),
    )


def social_profile_links(pages: DataFrame) -> DataFrame:
    """SOCIAL/DEVELOPER profile-link extraction: ``(id, platform,
    handle)`` for GitHub, X/Twitter, LinkedIn and Mastodon
    (``@user@host``) references — the author-identity channel next
    to byline metadata (q323) and ORCID (q344): cross-page handle
    reuse links documents to one author/organization for provenance
    weighting, and per-host handle censuses expose content farms
    sharing one social identity across "independent" sites.
    Platform path conventions are honored (reserved paths like
    /i/, /intent/, /share excluded for x/twitter; /in/ required for
    LinkedIn profiles). Codegen regexp channels + flatten/explode;
    handles lowercased (all four platforms are case-insensitive)."""
    h = F.col("html").cast("string")
    # host boundary: the platform domain must start a host, not sit
    # inside one — without it 'x.com/' matches inside dropbox.com/
    # netflix.com and 'github.com/' matches mygithub.com, emitting
    # bogus handles into the author-identity channel
    _b = r"(?:^|[^A-Za-z\d.-])(?:www\.)?"
    gh = F.regexp_extract_all(
        h, F.lit(_b + r"github\.com/([A-Za-z\d](?:[A-Za-z\d-]{0,37}))"
                 r"(?:[\"'/?#\s]|$)"), 1
    )
    tw = F.regexp_extract_all(
        h, F.lit(_b + r"(?:twitter|x)\.com/"
                 r"(?!i/|intent/|share|home|search)"
                 r"(\w{1,15})(?:[\"'/?#\s]|$)"), 1
    )
    li = F.regexp_extract_all(
        h, F.lit(_b + r"linkedin\.com/in/([A-Za-z\d%-]{3,100})"), 1
    )
    ma = F.regexp_extract_all(
        h, F.lit(r"(?:^|[\s>\"'])(@[A-Za-z\d_]+@[A-Za-z\d.-]+"
                 r"\.[A-Za-z]{2,})"), 1
    )
    chans = [("github", gh), ("x", tw), ("linkedin", li),
             ("mastodon", ma)]
    rows = pages.select(
        F.col("doc_id"),
        F.explode(
            F.flatten(
                F.array(*[
                    F.transform(
                        c,
                        lambda v: F.struct(
                            F.lit(k).alias("platform"),
                            F.lower(v).alias("handle"),
                        ),
                    )
                    for k, c in chans
                ])
            )
        ).alias("_e"),
    )
    return rows.select("doc_id", "_e.platform", "_e.handle").distinct()


def semantic_region_census(pages: DataFrame) -> DataFrame:
    """HTML5 SEMANTIC-REGION census: ``(id, has_main, has_article,
    n_articles, has_nav, has_aside, has_header, has_footer,
    extraction_tier)`` — whether the page declares the regions that
    let an extractor ANCHOR instead of guess: a ``<main>`` or single
    ``<article>`` page is tier 'anchored' (take that subtree, stop
    scoring), multi-article pages are 'feed' (index/listing — each
    article is a separate unit), legacy div-soup is 'heuristic'
    (full boilerplate scoring required, q44/q87's path). Routing
    extraction strategy by markup tier is how production pipelines
    cut the expensive scoring path to the pages that need it.
    Codegen regexp counts; zero shuffle."""
    h = F.col("html").cast("string")

    def _n(tag):
        return F.size(
            F.regexp_extract_all(h, F.lit(r"(?i)<" + tag + r"[\s>]"), 0)
        ).cast("int")

    n_main = _n("main")
    n_article = _n("article")
    tier = (
        F.when((n_main > 0) | (n_article == 1), "anchored")
        .when(n_article > 1, "feed")
        .otherwise("heuristic")
    )
    return pages.select(
        F.col("doc_id"),
        F.when(n_main > 0, 1).otherwise(0).cast("int").alias("has_main"),
        F.when(n_article > 0, 1).otherwise(0).cast("int")
        .alias("has_article"),
        n_article.alias("n_articles"),
        F.when(_n("nav") > 0, 1).otherwise(0).cast("int").alias("has_nav"),
        F.when(_n("aside") > 0, 1).otherwise(0).cast("int")
        .alias("has_aside"),
        F.when(_n("header") > 0, 1).otherwise(0).cast("int")
        .alias("has_header"),
        F.when(_n("footer") > 0, 1).otherwise(0).cast("int")
        .alias("has_footer"),
        tier.alias("extraction_tier"),
    )


def hidden_text_audit(pages: DataFrame) -> DataFrame:
    """HIDDEN-TEXT audit: ``(id, n_hidden_elements, n_hidden_chars,
    cloaking_suspect)`` — elements carrying inline
    ``display:none`` / ``visibility:hidden`` / ``font-size:0``
    styles and the immediate text inside them. Two consumers:
    extraction CORRECTNESS (the tree walker honors script/style but
    inline-hidden divs are invisible to renderers while remaining in
    extracted text — pages where hidden chars dominate need
    style-aware extraction) and SEO cloaking detection (keyword
    stuffing in invisible elements — ``cloaking_suspect`` fires at
    ≥ 200 hidden chars, the classic audit threshold). Immediate-text
    approximation (up to the next tag) is documented and pinned —
    nested hidden subtrees need the walker, this is the cheap
    corpus-wide pass that finds the pages worth walking.
    Codegen regexp; zero shuffle."""
    h = F.col("html").cast("string")
    pat = (
        r'(?is)<[a-z][^>]*style\s*=\s*"[^"]*(?:display\s*:\s*none|'
        r'visibility\s*:\s*hidden|font-size\s*:\s*0(?:px|;|"))'
        r'[^"]*"[^>]*>([^<]*)'
    )
    hits = F.regexp_extract_all(h, F.lit(pat), 1)
    n_el = F.size(hits)
    n_chars = F.aggregate(
        hits, F.lit(0), lambda acc, s: acc + F.length(F.trim(s))
    )
    return pages.select(
        F.col("doc_id"),
        n_el.cast("int").alias("n_hidden_elements"),
        n_chars.cast("int").alias("n_hidden_chars"),
        F.when(n_chars >= 200, 1).otherwise(0).cast("int")
        .alias("cloaking_suspect"),
    )
