"""URL canonicalization — native Column expressions (no Python).

Standard web-pipeline normalization for dedup/state keys at Common-Crawl
scale (beyond-reference capability; the reference compares raw url strings
everywhere, e.g. storage.py:80's drop_duplicates, so equivalent urls like
``HTTP://Site.com:80/a#x`` vs ``http://site.com/a`` count as different
documents — this operator is the fix, kept OPT-IN for parity).

Steps (conservative, lossless for path/query semantics):
1. lowercase scheme and host (authority case is insignificant per RFC 3986);
2. strip default ports (``:80`` http, ``:443`` https);
3. drop the fragment;
4. drop a trailing ``?`` (empty query);
5. sort query parameters (``b=2&a=1`` → ``a=1&b=2``) — order-insensitive
   services dominate the web; opt-out via ``sort_query=False``.

Everything stays inside whole-stage codegen except the query-param sort
(array_sort — interpreted but tiny). Equivalent ANSI-SQL form used in the
driver oracle: see entry_queries q41.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


# Session/campaign parameters that change the URL string but not the
# resource — the standard strip-list for crawl frontiers and dedup keys.
TRACKING_PARAM_RE = (
    "^(utm_[a-z]+|gclid|fbclid|msclkid|mc_eid|ref_src|igshid)="
)


def canonical_url(url, sort_query: bool = True,
                  strip_tracking: bool = False) -> Column:
    u = F.col(url) if isinstance(url, str) else url
    # 1-2. scheme://host[:port] → lowercase, default ports stripped
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    authority = F.when(
        (scheme == "http") & authority.endswith(":80"),
        F.substring(authority, 1, F.length(authority) - 3),
    ).when(
        (scheme == "https") & authority.endswith(":443"),
        F.substring(authority, 1, F.length(authority) - 4),
    ).otherwise(authority)
    # 3. strip fragment, then split path vs query
    no_frag = F.regexp_replace(u, r"#.*$", "")
    rest = F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    if strip_tracking or sort_query:
        params = F.split(query, "&", -1)
        if strip_tracking:
            # campaign/click params identify the *visit*, not the page;
            # stripping them merges byte-different urls of one resource
            params = F.filter(
                params, lambda p: ~p.rlike(TRACKING_PARAM_RE)
            )
        if sort_query:
            params = F.array_sort(params)
        query = F.array_join(params, "&")
    # 4-5. reassemble; trailing '?' dropped when query is empty
    return F.concat(
        scheme,
        F.lit("://"),
        authority,
        path,
        F.when(F.length(query) > 0, F.concat(F.lit("?"), query)).otherwise(
            F.lit("")
        ),
    )


def canonical_url_dedup(df, **canon_kwargs):
    """URL-cluster dedup over canonical forms:
    (canon, keeper_url, n_variants) — every distinct raw URL mapped
    through :func:`canonical_url`, clustered by the canonical string,
    keeper = lexicographic min raw variant (deterministic).

    The frontier-hygiene composition every crawler runs before
    scheduling: tracking-parameter and fragment variants of one page
    must collapse to ONE fetch. Shape: per-row codegen canonicalization
    (no UDF) + one map-combined groupBy on the canonical key; at
    10^12 URLs this is exactly the exact_dedup plan with the canonical
    string standing in for the content hash.
    """
    from pyspark.sql import functions as F

    c = df.select(F.col("url").alias("_u")).distinct().select(
        "_u", canonical_url(F.col("_u"), **canon_kwargs).alias("canon")
    )
    return c.groupBy("canon").agg(
        F.min("_u").alias("keeper_url"),
        F.count("*").cast("bigint").alias("n_variants"),
    )


def url_path_templates(df) -> "DataFrame":
    """URL PATH-TEMPLATE mining per host: every path with digit runs
    masked to ``{n}`` becomes a template key, counted per host — the
    crawl-frontier diagnostic behind "this host is a calendar /
    pagination / session-id trap": one template (``/blog/{n}/page/{n}``)
    carrying millions of URLs is a trap or an archive, and either way
    the frontier should budget it as ONE pattern, not millions of
    independent pages. Output: (host, path_template, n_urls,
    sample_url) — sample_url = lexicographic min, deterministic.

    Pure per-row codegen (two regexp ops) + one map-combined groupBy
    on the (host, template)-cardinality key — templates are
    site-structure-sized, orders of magnitude below URL count, so the
    agg output is tiny at any corpus scale. Host/path come from the
    same regexes the oracle replays (no parse_url — engine parity).
    """
    from pyspark.sql import functions as F

    host = F.regexp_extract(F.col("url"), r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    path = F.regexp_extract(F.col("url"), r"^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)?", 1)
    tpl = F.regexp_replace(path, "[0-9]+", "{n}")
    return (
        df.select(
            host.alias("host"),
            tpl.alias("path_template"),
            F.col("url").alias("_u"),
        )
        .groupBy("host", "path_template")
        .agg(
            F.count("*").cast("bigint").alias("n_urls"),
            F.min("_u").alias("sample_url"),
        )
    )


def param_significance(pages):
    """DATA-DRIVEN URL-parameter significance mining: which query
    parameters never change the content they address?

    q80's tracking-strip uses a FIXED blocklist (utm_*/gclid/...);
    search engines instead LEARN per-host neutral parameters by
    comparing content across URLs that differ only in one parameter.
    This operator is that learner: for every (host, path,
    other-params-signature, param) group with >= 2 distinct values of
    the param, the group is *neutral evidence* when all its pages
    share one content hash. Per (host, param):
    ``(host, param, n_groups, n_neutral_groups, neutral)`` with
    ``neutral = 1`` iff every evidence group was neutral — the
    discovered strip-list a canonicalizer (q41/q80/q148) then feeds
    on, closing the loop without a hand-maintained list.

    All parsing is codegen (split + transform/filter + sort_array for
    the others-signature); the evidence grouping is one partial-agg
    groupBy on (host, path, sig, param) and one on (host, param) —
    never a window, never Python. At 10^12 urls both keys are
    host-prefixed, so the shuffle co-locates with a host-bucketed
    frontier store.
    """
    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1)
    path = F.regexp_extract(F.col("url"), r"^[a-z]+://[^/]+([^?#]*)", 1)
    qs = F.regexp_extract(F.col("url"), r"\?([^#]*)", 1)
    pairs = F.filter(F.split(qs, "&"), lambda kv: kv != "")
    exploded = pages.select(
        host.alias("host"), path.alias("path"), pairs.alias("_ps"),
        F.col("content_hash").alias("_h"),
        F.explode(pairs).alias("_kv"),
    )
    pname = F.split(F.col("_kv"), "=")[0]
    others = F.array_join(
        F.sort_array(
            F.filter(F.col("_ps"), lambda kv: kv != F.col("_kv"))
        ),
        "&",
    )
    ev = exploded.select(
        "host", "path",
        pname.alias("param"),
        F.split(F.col("_kv"), "=")[1].alias("_val"),
        others.alias("_sig"),
        "_h",
    )
    groups = ev.groupBy("host", "path", "_sig", "param").agg(
        F.countDistinct("_val").alias("_nv"),
        F.countDistinct("_h").alias("_nh"),
    ).filter(F.col("_nv") >= 2)
    return (
        groups.groupBy("host", "param")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("_nh") == 1, 1).otherwise(0))
            .cast("bigint").alias("n_neutral_groups"),
        )
        .select(
            "host", "param", "n_groups", "n_neutral_groups",
            F.when(F.col("n_neutral_groups") == F.col("n_groups"), 1)
            .otherwise(0).cast("int").alias("neutral"),
        )
    )


def host_script_audit(pages):
    """IDN-homograph audit: hostnames mixing Unicode scripts
    (``exаmple.com`` with a Cyrillic а) are the classic phishing /
    crawler-trap spoof, and raw punycode labels (``xn--…``) deserve a
    review flag before a frontier trusts them. Per url: ``(url, host,
    has_latin, has_cyrillic, punycode, suspicious)`` with
    ``suspicious = mixed-script OR punycode``. Pure codegen rlike —
    the audit costs a Project on the url stream, nothing more."""
    host = F.lower(
        F.regexp_extract(F.col("url"), r"^[a-z]+://([^/:]+)", 1)
    )
    has_lat = host.rlike("[a-z]")
    has_cyr = host.rlike("[Ѐ-ӿ]")
    puny = host.rlike(r"(^|\.)xn--")
    flag = (has_lat & has_cyr) | puny
    b = lambda c: F.when(c, 1).otherwise(0).cast("int")  # noqa: E731
    return pages.select(
        F.col("url"), host.alias("host"),
        b(has_lat).alias("has_latin"),
        b(has_cyr).alias("has_cyrillic"),
        b(puny).alias("punycode"),
        b(flag).alias("suspicious"),
    )


def crawl_trap_score(pages, min_urls: int = 8) -> DataFrame:
    """Crawl-trap detection: hosts where a URL path template fans out
    into many URLs but barely any distinct content — infinite
    calendars, session-id paginators, faceted-search explosions. Per
    (host, template): ``(host, template, n_urls, n_hashes, trap)``
    with template = path with digit runs collapsed to 'N' (q160's
    convention) and ``trap = 1`` when the template has at least
    ``min_urls`` URLs and 10x more URLs than distinct hashes.

    A frontier filters candidate URLs against trap templates with a
    broadcast anti-join BEFORE fetching — the only way to win against
    a trap is to never enqueue it. Two partial-agg groupBys on
    host-prefixed keys; codegen template normalization."""
    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1)
    path = F.regexp_extract(F.col("url"), r"^[a-z]+://[^/]+([^?#]*)", 1)
    tmpl = F.regexp_replace(path, r"\d+", "N")
    per = pages.select(
        host.alias("host"), tmpl.alias("template"),
        F.col("url").alias("_u"), F.col("content_hash").alias("_h"),
    ).groupBy("host", "template").agg(
        F.countDistinct("_u").cast("bigint").alias("n_urls"),
        F.countDistinct("_h").cast("bigint").alias("n_hashes"),
    )
    return per.select(
        "host", "template", "n_urls", "n_hashes",
        F.when(
            (F.col("n_urls") >= int(min_urls))
            & (F.col("n_urls") >= 10 * F.col("n_hashes")), 1
        ).otherwise(0).cast("int").alias("trap"),
    )


# ---------------------------------------------------------------------------
# SURT keys (Sort-friendly URI Reordering Transform)
# ---------------------------------------------------------------------------


def surt_key(url, strip_www: bool = True, sort_query: bool = True):
    """SURT key for a URL — the sort-friendly form CDX indexes key on
    (public format, e.g. ``com,example)/path?a=1``): host lowercased,
    ``www``-prefix and default ports dropped, host labels REVERSED and
    comma-joined, scheme dropped, query parameters sorted.

    Why it matters at corpus scale: a CDX/Iceberg table sorted (or
    range-partitioned) by SURT clusters every capture of one
    registrable domain into a contiguous key range, so per-site reads
    become partition-range scans instead of full-table filters — the
    layout Common Crawl's own index uses. Reversing the host puts the
    low-cardinality TLD first, which is exactly what makes prefix
    pruning effective.

    Pure Column expressions (regexp/split/reverse/array_join) — stays
    in codegen except the tiny per-row array ops; no UDF, no shuffle.
    """
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    authority = F.when(
        (scheme == "http") & authority.endswith(":80"),
        F.substring(authority, 1, F.length(authority) - 3),
    ).when(
        (scheme == "https") & authority.endswith(":443"),
        F.substring(authority, 1, F.length(authority) - 4),
    ).otherwise(authority)
    if strip_www:
        authority = F.regexp_replace(authority, r"^www[0-9]*\.", "")
    # non-default ports survive, rendered AFTER the reversed host
    # ("com,example,a:8080)") so they never pollute the TLD-first prefix
    host_only = F.regexp_replace(authority, r":[0-9]+$", "")
    port = F.regexp_extract(authority, r"(:[0-9]+)$", 1)
    # IPv6 literals ([::1]) have no dot hierarchy — reversing their
    # colon-groups would corrupt the address; keep them verbatim
    rev_host = F.when(
        authority.startswith("["), authority
    ).otherwise(
        F.concat(
            F.array_join(F.reverse(F.split(host_only, r"\.")), ","), port
        )
    )
    no_frag = F.regexp_replace(u, r"#.*$", "")
    rest = F.regexp_extract(
        no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1
    )
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    if sort_query:
        query = F.array_join(F.array_sort(F.split(query, "&", -1)), "&")
    return F.concat(
        rev_host,
        F.lit(")"),
        path,
        F.when(F.length(query) > 0, F.concat(F.lit("?"), query)).otherwise(
            F.lit("")
        ),
    )


def surt_prefix(surt_col, n_labels: int = 2):
    """Range-partition prefix of a SURT key: the first ``n_labels``
    reversed host labels (``com,example``). The shard key for
    CDX-style layouts — one prefix ≈ one registrable domain's key
    range, so writers can ``repartitionByRange(surt)`` and readers
    prune by prefix."""
    c = F.col(surt_col) if isinstance(surt_col, str) else surt_col
    host_part = F.regexp_extract(c, r"^([^)]*)\)", 1)
    return F.array_join(F.slice(F.split(host_part, ","), 1, n_labels), ",")


# ---------------------------------------------------------------------------
# Registrable domains (Public Suffix List semantics)
# ---------------------------------------------------------------------------

# A deterministic, vendored subset of the Public Suffix List
# (publicsuffix.org — public data). Multi-label ICANN suffixes plus two
# PRIVATE-section entries (blogspot.com, github.io) that demonstrate why
# suffix matching must be data-driven, not "last two labels": pages on
# user-subdomain platforms are DIFFERENT sites and must not collapse into
# one "domain" for dedup/rate-limit/quality purposes. The real pipeline
# swaps in the full downloaded list as the same one-column table.
DEFAULT_PUBLIC_SUFFIXES = (
    "com org net edu gov mil int io co ai app dev info biz "
    "uk co.uk org.uk ac.uk gov.uk ltd.uk plc.uk "
    "br com.br net.br org.br gov.br "
    "jp co.jp ne.jp or.jp ac.jp go.jp "
    "au com.au net.au org.au edu.au gov.au "
    "cn com.cn net.cn org.cn gov.cn "
    "fr de nl it es pl ru us ca mx ar in "
    "blogspot.com github.io"
).split()


def registrable_domains(df, suffixes=None):
    """Registrable-domain (eTLD+1) extraction with Public-Suffix-List
    semantics: for each distinct host, the LONGEST matching public
    suffix wins (``a.b.co.uk`` → suffix ``co.uk``, registrable
    ``b.co.uk``, subdomain ``a``); hosts whose TLD is not listed fall
    back to the PSL default rule ``*`` (last label is the suffix).
    A host that IS a public suffix has registrable NULL.

    Output: (host, public_suffix, registrable, subdomain).

    Shape for 10^12 pages: hosts are deduplicated first (distinct on a
    host-sized relation — millions, not trillions), dot-suffixes are
    generated per host as an array (codegen, reusing the blocklist
    machinery), and the PSL is a BROADCAST dim (~10k rows for the full
    list). The default-``*`` fallback rides the SAME aggregation via a
    matched-flag sort key (unmatched suffixes rank by FEWEST labels,
    so the bare TLD surfaces), so the whole operator is one broadcast
    left join + one max(struct) partial agg — no rejoin, no window, no
    shuffle of the page table. Callers join the result back to pages
    on host (broadcast again: the host dim is small relative to pages).
    """
    from ..operators.blocklist import host_suffixes

    spark = df.sparkSession
    sfx = suffixes if suffixes is not None else DEFAULT_PUBLIC_SUFFIXES
    sfx_df = spark.createDataFrame(
        [(s, 1) for s in sorted(set(sfx))], "suffix string, _m int"
    )
    hosts = df.select(F.lower(F.col("host")).alias("host")).distinct()
    cand = hosts.select(
        "host", F.explode(host_suffixes(F.col("host"))).alias("suffix")
    ).join(F.broadcast(sfx_df), "suffix", "left")
    n_lbl = F.size(F.split(F.col("suffix"), r"\."))
    matched = F.coalesce(F.col("_m"), F.lit(0))
    labeled = cand.groupBy("host").agg(
        F.max(
            F.struct(
                matched.alias("m"),
                # matched: longest suffix wins; unmatched: SHORTEST
                # (the bare TLD — the PSL default '*' rule)
                F.when(matched == 1, n_lbl).otherwise(-n_lbl).alias("n"),
                F.col("suffix").alias("suffix"),
            )
        ).alias("b")
    ).select("host", F.col("b.suffix").alias("public_suffix"))
    parts = F.split(F.col("host"), r"\.")
    n = F.size(parts)
    n_sfx = F.size(F.split(F.col("public_suffix"), r"\."))
    return labeled.select(
        "host",
        "public_suffix",
        F.when(
            n > n_sfx,
            F.array_join(F.slice(parts, n - n_sfx, n_sfx + 1), "."),
        ).alias("registrable"),
        F.when(
            n > n_sfx + 1,
            F.array_join(F.slice(parts, 1, n - n_sfx - 1), "."),
        ).alias("subdomain"),
    )


def embedded_url_params(pages):
    """EMBEDDED-URL query-parameter audit: rows for every query
    parameter whose value is itself an absolute http(s) URL, plain or
    percent-encoded — ``(url, param, embedded_host, is_external)``.
    Three pipeline consumers: open-redirect surface detection
    (``?next=https://evil...`` on a login host), crawl-frontier
    hygiene (an embedded URL is usually the REAL resource — enqueue
    it, not the wrapper), and dedup noise (wrapper URLs explode the
    URL space without adding content). ``is_external`` compares the
    embedded host against the wrapping page's host.

    Per-row codegen: query split + explode + a 3-step minimal percent
    decode (%3A/%2F, case-insensitive) + host regexp pulls. Zero
    shuffle, zero Python.
    """
    u = F.col("url")
    page_host = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)", 1)
    )
    query = F.regexp_extract(
        F.regexp_replace(u, r"#.*$", ""), r"\?(.*)$", 1
    )
    rows = pages.select(
        u.alias("url"),
        page_host.alias("_ph"),
        F.explode(F.split(query, "&", -1)).alias("_kv"),
    ).filter(
        F.col("_kv").rlike(r"(?i)^[^=]+=(https?(://|%3A%2F%2F))")
    )
    val = F.regexp_extract(F.col("_kv"), r"^[^=]+=(.*)$", 1)
    decoded = F.regexp_replace(
        F.regexp_replace(val, r"(?i)%3A", ":"), r"(?i)%2F", "/"
    )
    emb_host = F.lower(
        F.regexp_extract(decoded, r"^https?://([^/?#:]*)", 1)
    )
    return rows.select(
        "url",
        F.regexp_extract(F.col("_kv"), r"^([^=]+)=", 1).alias("param"),
        emb_host.alias("embedded_host"),
        F.when(emb_host != F.col("_ph"), 1).otherwise(0).cast("int")
        .alias("is_external"),
    )


def percent_normalize(url_col):
    """RFC 3986 §6.2.2 percent-encoding normalization — the layer
    :func:`canonical_url` doesn't touch: %-escapes of UNRESERVED
    characters decode (``%7Euser`` → ``~user``, ``%41`` → ``A``) and
    every remaining escape's hex digits uppercase (``%3a`` → ``%3A``),
    because equivalent escapes otherwise split one resource across
    multiple frontier/dedup keys. Reserved escapes (%2F, %3F, …) are
    preserved — decoding them would CHANGE the URL's meaning.

    Needs per-escape case transforms, so it's an Arrow-batched
    pandas_udf (stdlib-only, deterministic) rather than codegen; the
    plan is the extractor's Scan → ArrowEvalPython shape, zero
    shuffle. Compose BEFORE canonical_url in the intake ladder
    (q316)."""
    _UNRESERVED = set(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
        "0123456789-._~"
    )

    def _norm_batch(s):
        import re

        import pandas as pd

        def fix(m):
            h = m.group(1)
            ch = chr(int(h, 16))
            return ch if ch in _UNRESERVED else "%" + h.upper()

        pat = re.compile(r"%([0-9A-Fa-f]{2})")
        return pd.Series(
            [pat.sub(fix, u) if u is not None else None for u in s]
        )

    _n = F.pandas_udf(_norm_batch, "string")
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return _n(c)
