"""PII, blocklists, licensing/opt-out, k-anonymity, RTBF, spam ratios.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


@q(
    "q71_pii_redaction",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' Contact user' || doc_id || '@mail.example.com or 10.'
                  || (doc_id % 256) || '.0.1 or call 415-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'
               AS t
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),
             '{IPV4_RE}', '{IPV4_TOKEN}', 'g'),
             '{PHONE_RE}', '{PHONE_TOKEN}', 'g') AS redacted_text,
           CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '{IPV4_RE}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT)
             AS n_phones
    FROM aug
    """,
)
def q71_pii_redaction(spark, sf_dir):
    """PII redaction (operators/redact.py): deterministic email/IP/phone
    strings are spliced into every document, then masked + counted with
    Java-regex/RE2-portable patterns. Shuffle-free narrow transform —
    the oracle replays the identical construction and replacement chain."""
    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" Contact user"), sid,
            F.lit("@mail.example.com or 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1 or call 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("."),
        ).alias("text"),
    )
    out = redact_pii(aug)
    return out.select(
        "doc_id",
        "redacted_text",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_ips").cast("long").alias("n_ips"),
        F.col("n_phones").cast("long").alias("n_phones"),
    )


@q(
    "q86_domain_blocklist",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0
                THEN 'cdn.' || source || '.example.com'
                ELSE source || '.example.com' END AS host,
           source IN ('src3', 'src7') AS blocked,
           CASE WHEN source IN ('src3', 'src7')
                THEN source || '.example.com' END AS matched_entry
    FROM documents
    """,
)
def q86_domain_blocklist(spark, sf_dir):
    """UT1-style domain blocklist (operators/blocklist.py): entry blocks
    the domain and every subdomain. Hosts (¼ behind a cdn. subdomain)
    explode into their dot-suffixes and EQUI-join the broadcast
    blocklist — never a LIKE nested loop. Oracle states the expected
    flags in closed form (src3/src7 blocked, cdn.src3 via suffix)."""
    from ..operators.blocklist import domain_block_flags

    d = _read(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("cdn."), F.col("source"), F.lit(".example.com")),
        )
        .otherwise(F.concat(F.col("source"), F.lit(".example.com")))
        .alias("host"),
    )
    bl = spark.createDataFrame(
        [("src3.example.com",), ("src7.example.com",),
         ("nav.example.net",)],
        "entry string",
    )
    return domain_block_flags(docs, bl)


@q(
    "q188_pii_density",
    f"""
    WITH aug AS (
      SELECT source,
             CASE WHEN doc_id % 3 = 0 THEN
               text || ' Contact user' || doc_id
                    || '@mail.example.com or 10.' || (doc_id % 256)
                    || '.0.1.'
             ELSE text END AS t
      FROM documents
    ),
    c AS (
      SELECT source,
             CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT)
               AS ne,
             CAST(len(regexp_extract_all(t, '{IPV4_RE}')) AS BIGINT)
               AS ni,
             CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT)
               AS np,
             CAST(length(t) AS BIGINT) AS ch
      FROM aug
    ),
    g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_docs_with_pii,
             CAST(sum(ne) AS BIGINT) AS n_emails,
             CAST(sum(ni) AS BIGINT) AS n_ips,
             CAST(sum(np) AS BIGINT) AS n_phones,
             CAST(sum(ch) AS BIGINT) AS chars
      FROM c GROUP BY source
    )
    SELECT source, n_docs, n_docs_with_pii, n_emails, n_ips, n_phones,
           ((n_emails + n_ips + n_phones) * 1000000) // chars
             AS pii_per_mchar
    FROM g ORDER BY source
    """,
)
def q188_pii_density(spark, sf_dir):
    """Per-source PII density audit (operators/redact.py:pii_density):
    matches per million characters plus per-type totals — the release
    audit that finds people-directory / paste-site shards needing
    source-level handling before per-doc masking (deterministic PII is
    spliced into every third document so densities differ by
    construction). The counting projection is redact_pii's
    shuffle-free codegen scan; the rollup is group-sized; all-integer
    output."""
    from ..operators.redact import pii_density

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    aug = d.select(
        "source",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"), F.lit(" Contact user"), sid,
                F.lit("@mail.example.com or 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0.1."),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return pii_density(aug).orderBy("source")

@q(
    "q190_badwords_filter",
    """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               text || ' casino viagra jackpot'
             ELSE text END AS t
      FROM documents
    ),
    toks AS (
      SELECT doc_id, w
      FROM (SELECT doc_id,
                   unnest(string_split(lower(t), ' ')) AS w
            FROM aug)
      WHERE length(w) > 0
    ),
    g AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN w IN ('casino','viagra','lottery',
                                      'jackpot','betting','pills',
                                      'crypto-giveaway','xxx')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_bad,
           n_bad * 1000000 // n_tokens AS bad_per_mtoken,
           n_bad > 0 AS blocked
    FROM g
    """,
)
def q190_badwords_filter(spark, sf_dir):
    """C4's word-blocklist gate (operators/blocklist.py:badword_stats;
    Raffel et al. 2020 use the LDNOOBW list at this exact point in the
    recipe): any blocklisted token drops the page; the density column
    (integer micros) keeps the threshold tunable. Spam markers are
    spliced into every 5th document so both verdicts occur by
    construction. Plan: the blocklist is a folded codegen IN predicate
    on the exploded token stream -- one partial-agg groupBy on the doc
    key, no join, no broadcast, no second shuffle at any corpus size."""
    from ..operators.blocklist import badword_stats

    d = _read(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" casino viagra jackpot")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return badword_stats(aug)


@q(
    "q208_cidr_blocklist",
    """
    WITH ips AS (
      SELECT doc_id,
             '10.' || CAST(doc_id % 64 AS VARCHAR) || '.'
                   || CAST((doc_id // 64) % 256 AS VARCHAR) || '.'
                   || CAST(doc_id % 254 + 1 AS VARCHAR) AS ip
      FROM documents
    ),
    ipi AS (
      SELECT doc_id, ip,
             CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
           + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
           + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
           + CAST(string_split(ip, '.')[4] AS BIGINT) AS n
      FROM ips
    ),
    cid AS (
      SELECT cidr,
             CAST(string_split(string_split(cidr, '/')[1], '.')[1]
                  AS BIGINT) * 16777216
           + CAST(string_split(string_split(cidr, '/')[1], '.')[2]
                  AS BIGINT) * 65536
           + CAST(string_split(string_split(cidr, '/')[1], '.')[3]
                  AS BIGINT) * 256
           + CAST(string_split(string_split(cidr, '/')[1], '.')[4]
                  AS BIGINT) AS base,
             CAST(string_split(cidr, '/')[2] AS INT) AS plen
      FROM (VALUES ('10.3.0.0/16'), ('10.7.0.0/16'), ('10.11.0.0/16'),
                   ('172.16.0.0/12'), ('10.42.1.0/24')) AS t(cidr)
    ),
    hits AS (
      SELECT i.doc_id, min(c.cidr) AS matched_cidr
      FROM ipi i JOIN cid c
        ON (i.n >> (32 - c.plen)) = (c.base >> (32 - c.plen))
      GROUP BY i.doc_id
    )
    SELECT i.doc_id, i.ip,
           h.matched_cidr IS NOT NULL AS blocked,
           h.matched_cidr
    FROM ipi i LEFT JOIN hits h ON i.doc_id = h.doc_id
    """,
)
def q208_cidr_blocklist(spark, sf_dir):
    """CIDR/IP-range blocklist (operators/blocklist.py:cidr_block_flags):
    server farms and bulletproof hosters are blocked by NETWORK RANGE,
    not hostname -- the layer the UT1-style domain list (q86) cannot
    see. Containment ip in base/p <=> equal top-p bits becomes an
    EQUI-join by exploding each IP into one (prefix_len, prefix) row
    per length the blocklist uses (bounded <= 33, here 3) against the
    broadcast CIDR dim -- the host_suffixes discipline at the network
    layer; a range predicate at 10^12 x 10^6 would plan as a nested
    loop. IPs are synthesized from doc_id so /16 and /24 blocks each
    fire by construction. The oracle states containment as the raw
    shift-equality over the same VALUES dim (DuckDB plans the tiny dim
    however it likes; results, not plans, are compared)."""
    from pyspark.sql import Row

    from ..operators.blocklist import cidr_block_flags

    d = _read(spark, sf_dir, "documents")
    ips = d.select(
        "doc_id",
        F.concat(
            F.lit("10."), (F.col("doc_id") % 64).cast("string"),
            F.lit("."), (F.expr("doc_id div 64") % 256).cast("string"),
            F.lit("."), (F.col("doc_id") % 254 + 1).cast("string"),
        ).alias("ip"),
    )
    cidrs = spark.createDataFrame([Row(cidr=c) for c in _Q208_CIDRS])
    return cidr_block_flags(ips, cidrs, prefix_lens=(12, 16, 24))


@q(
    "q216_outlink_spam_ratio",
    """
    WITH lk AS (
      SELECT doc_id,
             'ext' || CAST((doc_id + j) % 7 AS VARCHAR) ||
               CASE WHEN (doc_id + j) % 2 = 0
                    THEN '.example.org' ELSE '.ads.example.net' END
               AS h
      FROM documents, unnest(range(0, 1 + doc_id % 4)) t(j)
    ),
    bl AS (SELECT unnest(['ext1.example.org', 'ext3.example.org',
                          'ads.example.net']) AS entry),
    hosts AS (SELECT DISTINCT h FROM lk),
    hs AS (
      SELECT h, array_to_string(parts[i:len(parts)], '.') AS suf
      FROM (SELECT h, string_split(h, '.') AS parts FROM hosts),
           unnest(range(1, 8)) r(i)
      WHERE i <= len(parts)
    ),
    bh AS (SELECT DISTINCT hs.h FROM hs JOIN bl ON hs.suf = bl.entry)
    SELECT lk.doc_id,
           CAST(count(*) AS BIGINT) AS n_outlinks,
           CAST(sum(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_blocked,
           sum(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END)
             * 1000000 // count(*) AS blocked_ppm
    FROM lk LEFT JOIN bh ON lk.h = bh.h
    GROUP BY lk.doc_id
    """,
)
def q216_outlink_spam_ratio(spark, sf_dir):
    """Per-page bad-outlink ratio (operators/blocklist.py:
    outlink_spam_ratio): fraction of a page's external-link targets
    whose host hits the UT1-style domain blocklist -- the
    spam-adjacency signal (a page linking mostly at blocked domains is
    itself suspect). The verdict is computed per DISTINCT host (suffix
    explode + broadcast semi-join over |hosts|, not |links| -- on a
    web graph links outnumber hosts ~1000x), links re-join on the
    host key, and one partial-agg groupBy(doc) finishes. Fixture
    synthesizes 1-4 outlinks per doc across 14 host variants, two
    blocked directly and one via the ads.example.net suffix rule (so
    the subdomain-matching path is exercised, not just exact hits)."""
    from pyspark.sql import Row

    from ..operators.blocklist import outlink_spam_ratio

    d = _read(spark, sf_dir, "documents").select("doc_id")
    links = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 4).cast("int"))
        ).alias("j"),
    ).select(
        "doc_id",
        F.concat(
            F.lit("ext"),
            ((F.col("doc_id") + F.col("j")) % 7).cast("string"),
            F.when(
                (F.col("doc_id") + F.col("j")) % 2 == 0,
                F.lit(".example.org"),
            ).otherwise(F.lit(".ads.example.net")),
        ).alias("target_host"),
    )
    bl = spark.createDataFrame(
        [Row(entry=e) for e in
         ("ext1.example.org", "ext3.example.org", "ads.example.net")]
    )
    return outlink_spam_ratio(links, bl)


# --- wave: corpus governance — licenses + AI opt-out (q278-q279) --------------


@q(
    "q278_license_signals",
    """
    SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN 'cc-by-4.0'
             WHEN 1 THEN 'cc-by-nc-sa-3.0'
             ELSE 'cc-zero-1.0' END AS license,
           'link' AS via
    FROM documents WHERE doc_id % 4 IN (0, 1, 2)
    UNION ALL
    SELECT doc_id, 'MIT', 'spdx' FROM documents WHERE doc_id % 4 = 3
    UNION ALL
    SELECT doc_id, 'cc-by-4.0', 'link'
    FROM documents WHERE doc_id % 4 = 3
    """,
)
def q278_license_signals(spark, sf_dir):
    """License-signal detection (operators/governance.py
    license_signals): canonical Creative-Commons deed URLs (incl. the
    CC0 publicdomain/zero path) from ANY href plus
    SPDX-License-Identifier markers in page source — the
    machine-readable license layer responsibly-built corpora filter
    on. Fixture: per doc one of cc-by / cc-by-nc-sa / cc0 via link;
    every 4th doc declares MIT via SPDX AND a cc-by link (multi-signal
    page), with a duplicate link proving the dedup. Codegen regexp
    end to end."""
    from ..operators.governance import license_signals

    d = _read(spark, sf_dir, "documents")
    cc_href = F.element_at(
        F.array(
            F.lit("https://creativecommons.org/licenses/by/4.0/"),
            F.lit("https://creativecommons.org/licenses/by-nc-sa/3.0/"),
            F.lit("https://creativecommons.org/publicdomain/zero/1.0/"),
            F.lit("https://creativecommons.org/licenses/by/4.0/"),
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    html = F.concat(
        F.lit('<html><body><a rel="license" href="'), cc_href,
        F.lit('">license</a><a href="'), cc_href,
        F.lit('">again</a>'),
        F.when(
            F.col("doc_id") % 4 == 3,
            F.lit("<pre>SPDX-License-Identifier: MIT</pre>"),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return license_signals(d.select("doc_id", html.alias("html")))


@q(
    "q279_ai_optout",
    """
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS INT)
             AS noai,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS INT)
             AS noimageai,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END AS INT)
             AS tdm_reserved
    FROM documents
    """,
)
def q279_ai_optout(spark, sf_dir):
    """AI-use reservation audit (operators/governance.py
    ai_optout_flags): the noai/noimageai robots-meta tokens and the
    W3C TDM-Reservation-Protocol meta — the consent layer an ethical
    training-data pipeline must read BEFORE ingesting a page; a
    corpus filter is one predicate over this relation. Fixture:
    doc%3==1 serves 'noai, noimageai' (comma-list parsing), doc%3==2
    a tdm-reservation=1 meta, doc%3==0 neither (defaults 0)."""
    from ..operators.governance import ai_optout_flags

    d = _read(spark, sf_dir, "documents")
    meta = F.when(
        F.col("doc_id") % 3 == 1,
        F.lit('<meta name="robots" content="noai, noimageai">'),
    ).when(
        F.col("doc_id") % 3 == 2,
        F.lit('<meta name="tdm-reservation" content="1">'),
    ).otherwise(F.lit('<meta name="robots" content="index">'))
    html = F.concat(
        F.lit("<html><head>"), meta, F.lit("</head><body>x</body></html>")
    )
    return ai_optout_flags(d.select("doc_id", html.alias("html")))


@q(
    "q285_pii_pseudonyms",
    """
    SELECT doc_id, 'email' AS kind,
           sha256('s3cr3t' || 'u' || (doc_id % 20) || '@x.com')
             AS pseudonym
    FROM documents
    UNION ALL
    SELECT doc_id, 'email',
           sha256('s3cr3t' || 'd' || doc_id || '@y.org')
    FROM documents
    """,
)
def q285_pii_pseudonyms(spark, sf_dir):
    """Keyed PII pseudonymization (operators/redact.py
    pii_pseudonyms): detected emails become stable salted sha-256
    pseudonyms — the SAME address pseudonymizes identically
    corpus-wide (user-level joins/dedup still work) while the raw
    identifier never leaves the projection, and rotating the salt is
    the GDPR-style re-identification kill-switch. q71's redaction
    drops the linkage; this relation carries it. Fixture: one shared
    address per user-bucket (20 users) plus one unique per doc; the
    oracle recomputes both hashes with DuckDB's sha256."""
    from ..operators.redact import pii_pseudonyms

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("contact u"), (F.col("doc_id") % 20).cast("string"),
        F.lit("@x.com and d"), sid, F.lit("@y.org today"),
    )
    return pii_pseudonyms(
        d.select("doc_id", text.alias("text")), salt="s3cr3t"
    )


# --- wave: k-anonymity release table (q287) -----------------------------------


@q(
    "q287_k_anonymity",
    """
    WITH d AS (
      SELECT CASE
               WHEN doc_id % 10 < 8 THEN 'big' || (doc_id % 4) || '.com'
               WHEN doc_id % 500 = 7 THEN 'solo' || doc_id || '.qq'
               ELSE 'r' || doc_id || '.net' END AS host
      FROM documents
    ),
    hc AS (SELECT host, CAST(count(*) AS BIGINT) AS n
           FROM d GROUP BY 1),
    rel AS (SELECT host AS release_key, 'host' AS level, n AS n_docs
            FROM hc WHERE n >= 5),
    sup AS (SELECT regexp_extract(host, '\\.([a-z]+)$', 1) AS tld, n
            FROM hc WHERE n < 5),
    tc AS (SELECT tld, CAST(sum(n) AS BIGINT) AS n
           FROM sup GROUP BY 1),
    rel2 AS (SELECT tld AS release_key, 'tld' AS level, n AS n_docs
             FROM tc WHERE n >= 5),
    rest AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs
             FROM tc WHERE n < 5)
    SELECT * FROM rel
    UNION ALL SELECT * FROM rel2
    UNION ALL SELECT '*', 'any', n_docs FROM rest WHERE n_docs > 0
    """,
)
def q287_k_anonymity(spark, sf_dir):
    """k-anonymity for released crawl metadata (operators/
    governance.py k_anonymize_hosts): publishing raw per-host counts
    leaks k=1 facts, so small hosts suppress into their TLD and
    still-small TLD pools collapse into one '*' residual — every
    published row aggregates >= k docs. Fixture: four big .com hosts
    (host-level), singleton .net hosts (pool to tld-level), and one
    .qq singleton whose pool stays below k — the '*' row — at the
    gate SF. The oracle restates the ALGORITHM, not constants, so
    verdicts track every SF."""
    from ..operators.governance import k_anonymize_hosts

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    host = F.when(
        F.col("doc_id") % 10 < 8,
        F.concat(F.lit("big"), (F.col("doc_id") % 4).cast("string"),
                 F.lit(".com")),
    ).when(
        F.col("doc_id") % 500 == 7,
        F.concat(F.lit("solo"), sid, F.lit(".qq")),
    ).otherwise(F.concat(F.lit("r"), sid, F.lit(".net")))
    return k_anonymize_hosts(d.select(host.alias("host")), k=5)


# --- wave: CSP directive relation (q303) --------------------------------------


@q(
    "q303_csp_directives",
    """
    SELECT doc_id, 'default-src' AS directive, '''self''' AS source
    FROM documents
    UNION ALL
    SELECT doc_id, 'script-src', '''self''' FROM documents
    WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, 'script-src', 'https://cdn.example.org'
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, 'upgrade-insecure-requests', ''
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def q303_csp_directives(spark, sf_dir):
    """CSP directive relation (operators/meta.py csp_directives): the
    normalized (directive, source) pairs security-posture rollups
    aggregate — e.g. join script-src whitelists against q294's
    OBSERVED third-party census to catch policy/reality drift. Even
    docs whitelist a CDN for script-src, every 3rd doc carries the
    source-less upgrade-insecure-requests (one row, source '').
    Codegen meta extraction + two-level split/explode."""
    from ..operators.meta import csp_directives

    d = _read(spark, sf_dir, "documents")
    policy = F.concat(
        F.lit("default-src 'self'"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("; script-src 'self' https://cdn.example.org"),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("; upgrade-insecure-requests")).otherwise(F.lit("")),
    )
    html = F.concat(
        F.lit('<html><head><meta http-equiv="Content-Security-Policy" '
              'content="'),
        policy, F.lit('"></head><body>y</body></html>'),
    )
    return csp_directives(d.select("doc_id", html.alias("html")))


# --- wave: RTBF tombstone propagation (q304) ----------------------------------


@q(
    "q304_index_tombstones",
    """
    WITH g AS (SELECT doc_id // 10 AS grp, doc_id FROM documents),
    keep AS (
      SELECT grp, doc_id FROM g
      WHERE NOT (grp % 5 = 0) AND NOT (doc_id % 10 = 0)
    ),
    cnt AS (SELECT grp, CAST(count(*) * 2 AS BIGINT) AS n_rows_after
            FROM keep GROUP BY 1)
    SELECT gg.grp, CAST(coalesce(cnt.n_rows_after, 0) AS BIGINT)
             AS n_rows_after,
           CAST(CASE WHEN cnt.grp IS NOT NULL THEN 1 ELSE 0 END
                AS INT) AS still_dup
    FROM (SELECT DISTINCT grp FROM g) gg
    LEFT JOIN cnt ON cnt.grp = gg.grp
    """,
)
def q304_index_tombstones(spark, sf_dir):
    """Right-to-be-forgotten delete propagation (operators/dedup.py
    apply_tombstones): erased documents' rows leave the persisted
    band index via ONE broadcast left-anti join — no rebuild — and a
    probe proves the semantics: key-groups whose members are ALL
    tombstoned (every 5th group, plus partial deletes elsewhere) stop
    matching entirely, everything else keeps deduping. The oracle
    states survivorship as the same keep/count algebra, so verdicts
    track every SF. Composes with q106 (incremental dedup) and q279
    (reservation-driven erasure lists)."""
    from ..operators.dedup import apply_tombstones

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr("doc_id div 10").alias("grp")
    )
    index = d.select(
        "doc_id", "grp",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("band"),
    ).select(
        "doc_id", "grp", "band",
        F.concat(F.lit("k"), F.col("grp").cast("string"),
                 F.lit("-"), F.col("band").cast("string"))
        .alias("band_key"),
    )
    tomb = d.filter(
        (F.col("grp") % 5 == 0) | (F.col("doc_id") % 10 == 0)
    )
    updated = apply_tombstones(index, tomb)
    stats = updated.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_rows_after")
    )
    return (
        d.select("grp").distinct()
        .join(stats, "grp", "left")
        .select(
            "grp",
            F.coalesce("n_rows_after", F.lit(0)).cast("bigint")
            .alias("n_rows_after"),
            F.when(F.col("n_rows_after").isNotNull(), 1).otherwise(0)
            .cast("int").alias("still_dup"),
        )
    )


# --- wave: checksum identifiers + Clean-param (q344-q345) ---------------------


@q(
    "q344_checksum_ids",
    """
    SELECT doc_id, 'orcid' AS kind,
           '0000-0002-1825-0097' AS ident, 1 AS valid
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 'orcid', '0000-0002-1825-0096', 0
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 'isbn13', '978-0-306-40615-7', 1
    FROM documents WHERE doc_id % 3 = 1
    UNION ALL
    SELECT doc_id, 'isbn13', '9780306406158', 0
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def q344_checksum_ids(spark, sf_dir):
    """Checksum-validated identifier extraction (operators/
    textstats.py checksum_ids): ORCID (ISO 7064 mod 11-2) and
    ISBN-13 (EAN weighted mod 10), with BOTH check digits computed
    in pure codegen aggregate folds over the digit arrays — validity
    turns the pattern-matching false-positive channel into a
    measurable valid=0 row instead of corpus noise. Fixture pairs a
    known-valid and an off-by-one identifier per kind (dashed ISBN
    included); every row closed-form."""
    from ..operators.textstats import checksum_ids

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    text = (
        F.when(m == 0, F.lit(
            "authors 0000-0002-1825-0097 and 0000-0002-1825-0096 listed"))
        .when(m == 1, F.lit(
            "cite 978-0-306-40615-7 but beware 9780306406158 typo"))
        .otherwise(F.lit("no identifiers here, just prose"))
    )
    return checksum_ids(d.select("doc_id", text.alias("text")))
