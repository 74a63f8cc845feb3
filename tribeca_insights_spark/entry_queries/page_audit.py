"""Page/SEO/site audits: metadata, health cards, census and marts.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


@q(
    "q70_seo_extended",
    """
    SELECT doc_id,
           'https://' || source || '.example.com/docs/' || doc_id
             AS canonical,
           'OG Doc ' || doc_id AS og_title,
           source || ' og' AS og_description,
           'https://img.example.com/og/' || doc_id || '.png' AS og_image,
           CASE WHEN doc_id % 2 = 0 THEN 'index,follow' ELSE 'noindex' END
             AS meta_robots,
           'TW Doc ' || doc_id AS twitter_title,
           2 AS n_hreflang,
           'en' AS hreflang_first,
           'https://' || source || '.example.com/docs/' || doc_id ||
             '?hl=pt' AS hreflang_last_href
    FROM documents
    """,
)
def q70_seo_extended(spark, sf_dir):
    """SEO extension extraction (canonical / og:* / meta robots /
    twitter:* / hreflang): the reference's project-JSON template ships
    these keys but never computes them
    (docs/examples/project_DOMAIN_template.json:17-60); here they come out
    of the same single-pass tag walk as title/meta, first-occurrence-wins,
    with decoy tags proving the selection rules."""
    docs = documents_as_seo_pages(spark, sf_dir)
    ex = extract_pages(docs)
    return ex.select(
        F.regexp_extract("url", r"/docs/(\d+)$", 1).cast("bigint")
        .alias("doc_id"),
        F.col("seo.canonical").alias("canonical"),
        F.col("seo.og_title").alias("og_title"),
        F.col("seo.og_description").alias("og_description"),
        F.col("seo.og_image").alias("og_image"),
        F.col("seo.meta_robots").alias("meta_robots"),
        F.col("seo.twitter_title").alias("twitter_title"),
        F.size("seo.hreflang").alias("n_hreflang"),
        F.col("seo.hreflang")[0]["hreflang"].alias("hreflang_first"),
        F.element_at(F.col("seo.hreflang"), -1)["href"]
        .alias("hreflang_last_href"),
    )


@q(
    "q72_dsir_importance",
    """
    WITH words AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest(list_filter(
               string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0)) AS w
      FROM documents
    ),
    pdb AS (
      SELECT doc_id, is_t,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b,
             count(*) AS cnt
      FROM words GROUP BY doc_id, is_t, b
    ),
    bt AS (
      SELECT b, CAST(sum(cnt) AS BIGINT) AS r_cnt,
             CAST(sum(CASE WHEN is_t THEN cnt ELSE 0 END) AS BIGINT)
               AS t_cnt
      FROM pdb GROUP BY b
    ),
    tot AS (
      SELECT CAST(sum(r_cnt) AS BIGINT) AS R_, CAST(sum(t_cnt) AS BIGINT)
               AS T_
      FROM bt
    ),
    wts AS (
      SELECT b, CAST(floor(1e6 * (ln(t_cnt + 1) - ln(T_ + 1024)
                                  - ln(r_cnt + 1) + ln(R_ + 1024)))
                     AS BIGINT) AS w_micros
      FROM bt, tot
    )
    SELECT pdb.doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(sum(cnt * w_micros) AS BIGINT) AS dsir_score_micros
    FROM pdb JOIN wts USING (b)
    GROUP BY pdb.doc_id
    """,
)
def q72_dsir_importance(spark, sf_dir):
    """DSIR importance scoring (operators/dsir.py; Xie et al. 2023):
    hashed-unigram log-likelihood ratio of the lang='en' target slice vs
    the whole corpus, per-bucket weights quantized to integer micros so
    the per-doc sum is aggregation-order-independent and the DuckDB
    oracle matches bit-for-bit."""
    from ..operators.dsir import dsir_importance

    docs = _read(spark, sf_dir, "documents")
    return dsir_importance(docs, F.col("lang") == "en", n_buckets=1024)


@q(
    "q79_domain_stats",
    f"""
    WITH per AS (
      SELECT source, doc_id, lang,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len({_Q76_TOKENS}) AS BIGINT) AS n_word_tokens,
             md5(text) AS h
      FROM documents
    ),
    fl AS (
      SELECT *, count(*) OVER (PARTITION BY h) > 1 AS is_dup FROM per
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_word_tokens) AS BIGINT) AS total_word_tokens,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           round(sum(n_chars) / CAST(count(*) AS DOUBLE), 4) AS avg_chars
    FROM fl GROUP BY source
    """,
)
def q79_domain_stats(spark, sf_dir):
    """Per-domain corpus report card (operators/textstats.py
    domain_stats): size, language spread, token supply, duplicate-farm
    rate, mean length — the rollup a curation run reads before setting
    mixture weights. Narrow per-doc pass → hash-window dup flag →
    partial-agg rollup on the domain key."""
    from ..operators.textstats import domain_stats

    return domain_stats(_read(spark, sf_dir, "documents"))


@q(
    "q100_curation_verdict",
    f"""
    WITH inj AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0 THEN ' Ã©cole' ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' ' || chr(65533) ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' ' || repeat('0123456789 ', 40) ELSE '' END
               AS t
      FROM documents
    ),
    m AS (
      SELECT doc_id, t,
             CASE WHEN trim(t) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(t), '\\s+')) END
               AS n_words,
             length(t) - length(replace(t, chr(65533), '')) AS n_repl,
             {_MOJI_SUM_SQL} AS moji,
             length(regexp_replace(t, '\\s+', '', 'g')) AS nonspace,
             length(t) - length(regexp_replace(t, '\\p{{L}}', '', 'g'))
               AS alpha
      FROM inj
    ),
    g AS (
      SELECT doc_id, n_words,
             round(CAST(alpha AS DOUBLE)
                   / CAST(greatest(nonspace, 1) AS DOUBLE), 4)
               AS alpha_ratio,
             n_repl, moji
      FROM m
    )
    SELECT doc_id, CAST(n_words AS INT) AS n_words, alpha_ratio,
           (concat_ws(',',
              CASE WHEN n_words < 5 THEN 'too_short' END,
              CASE WHEN n_words > 100000 THEN 'too_long' END,
              CASE WHEN n_repl > 0 OR moji > 0 THEN 'encoding' END,
              CASE WHEN alpha_ratio < 0.6 THEN 'low_alpha' END) = '')
             AS keep,
           concat_ws(',',
              CASE WHEN n_words < 5 THEN 'too_short' END,
              CASE WHEN n_words > 100000 THEN 'too_long' END,
              CASE WHEN n_repl > 0 OR moji > 0 THEN 'encoding' END,
              CASE WHEN alpha_ratio < 0.6 THEN 'low_alpha' END)
             AS reasons_csv
    FROM g
    """,
)
def q100_curation_verdict(spark, sf_dir):
    """Composite curation verdict (operators/textstats.curation_verdict):
    keep/drop + ordered failed-gate reasons — the audit record ablations
    and appeal queues read. Deterministic corruption injected in-dataflow
    (mojibake %7, replacement char %13, digit spam %11 — the last drives
    alpha_ratio below 0.6) so every gate fires somewhere in the corpus;
    the oracle recomputes every gate from the same injected strings with
    the same fixed-literal arithmetic and rounded-ratio compare. Native
    per-row columnar; reasons as a fixed-order CSV so the verdict
    hash-compares across engines."""
    from ..operators.textstats import curation_verdict

    d = _read(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" Ã©cole")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.lit(" �")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.lit(" "),
                            F.expr("repeat('0123456789 ', 40)")))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return curation_verdict(injected)


@q("q207_release_datasheet", _q207_oracle(p=6))
def q207_release_datasheet(spark, sf_dir):
    """The corpus release datasheet in one row (operators/textstats.py:
    release_datasheet; Gebru 2021's "Datasheets for Datasets", the
    numbers section): doc/token/source/lang counts, HLL vocabulary
    estimate (the only feasible distinct-token count at 10^12 docs),
    exact-dup share, mean length -- the sign-off table a release review
    reads, every number integer/micro-quantized so the SHEET ITSELF is
    hash-verifiable (the q188 auditability principle). Plan: one
    token-stream pass shared by the count and the sketch, group-sized
    distincts, broadcast 1-row recombination."""
    from ..operators.textstats import release_datasheet

    d = _read(spark, sf_dir, "documents")
    return release_datasheet(d)


@q(
    "q213_aligned_spans",
    f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(
               CASE WHEN doc_id % 10 = 0
                    THEN text || ' {_Q213_PAYLOAD}' ELSE text END, ' '),
               w -> length(w) > 0) AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(t[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
            FROM d WHERE len(t) >= 3)
    ),
    p AS (
      SELECT a.doc_id AS a_id, a.doc_id + 10 AS b_id
      FROM documents a
      WHERE a.doc_id % 10 = 0
        AND EXISTS (SELECT 1 FROM documents b
                    WHERE b.doc_id = a.doc_id + 10)
    ),
    m AS (
      SELECT p.a_id, p.b_id, ga.pos AS pos_a, gb.pos AS pos_b,
             ga.pos - gb.pos AS diag
      FROM p
      JOIN g ga ON ga.doc_id = p.a_id
      JOIN g gb ON gb.doc_id = p.b_id AND gb.gram = ga.gram
    ),
    isl AS (
      SELECT a_id, b_id, diag, pos_a, pos_b,
             pos_a - row_number() OVER
               (PARTITION BY a_id, b_id, diag ORDER BY pos_a) AS grp
      FROM m
    ),
    runs AS (
      SELECT a_id, b_id, diag, min(pos_a) AS start_a,
             min(pos_b) AS start_b,
             CAST(count(*) + 2 AS BIGINT) AS run_tokens
      FROM isl GROUP BY a_id, b_id, diag, grp
    ),
    best AS (
      SELECT *, row_number() OVER
        (PARTITION BY a_id, b_id
         ORDER BY run_tokens DESC, diag, start_a) AS rn
      FROM runs
    )
    SELECT a_id, b_id, diag, start_a, start_b, run_tokens
    FROM best WHERE rn = 1
    """,
)
def q213_aligned_spans(spark, sf_dir):
    """Aligned shared-span detection (operators/dedup.py:
    aligned_span_pairs) -- the step AFTER candidate generation: LSH
    says two docs overlap, this says WHERE and HOW LONG via the
    classic diagonal method (shared k-gram positions land on one
    diagonal pos_a - pos_b; gaps-and-islands grouping finds the
    longest consecutive run). Every window is partitioned by
    (pair, diagonal) and the gram join is bounded by the candidate
    pair list -- never corpus x corpus. Fixture: every 10th doc gets a
    12-token payload appended, pairs = consecutive payload docs, so
    each pair shares a >= 12-token run whose position differs per doc;
    the oracle replays grams, diagonals, islands, and the
    deterministic tie-break."""
    from ..operators.dedup import aligned_span_pairs

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.col("text"), F.lit(" " + _Q213_PAYLOAD)),
        ).otherwise(F.col("text")).alias("tok_str"),
    )
    ids = _read(spark, sf_dir, "documents").select("doc_id")
    pairs = (
        ids.filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("a_id"),
                (F.col("doc_id") + 10).alias("b_id"))
        .join(ids.select(F.col("doc_id").alias("b_id")), "b_id")
        .select("a_id", "b_id")
    )
    return aligned_span_pairs(d, pairs, k=3)


@q(
    "q243_table_profile",
    """
    WITH lc AS (
      SELECT CAST(lang AS VARCHAR) AS v, count(*) AS c
      FROM documents WHERE lang IS NOT NULL GROUP BY 1
    ),
    sc AS (
      SELECT CAST(source AS VARCHAR) AS v, count(*) AS c
      FROM documents WHERE source IS NOT NULL GROUP BY 1
    ),
    nc AS (
      SELECT CAST(n_chars AS VARCHAR) AS v, count(*) AS c
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
    )
    SELECT 'lang' AS col_name,
           (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
           (SELECT CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) FROM documents) AS n_null,
           (SELECT CAST(count(*) AS BIGINT) FROM lc) AS n_distinct,
           (SELECT v FROM lc ORDER BY c DESC, v DESC LIMIT 1)
             AS top_value,
           (SELECT CAST(c AS BIGINT) FROM lc
            ORDER BY c DESC, v DESC LIMIT 1) AS top_count
    UNION ALL
    SELECT 'source',
           (SELECT CAST(count(*) AS BIGINT) FROM documents),
           (SELECT CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0
                            END) AS BIGINT) FROM documents),
           (SELECT CAST(count(*) AS BIGINT) FROM sc),
           (SELECT v FROM sc ORDER BY c DESC, v DESC LIMIT 1),
           (SELECT CAST(c AS BIGINT) FROM sc
            ORDER BY c DESC, v DESC LIMIT 1)
    UNION ALL
    SELECT 'n_chars',
           (SELECT CAST(count(*) AS BIGINT) FROM documents),
           (SELECT CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0
                            END) AS BIGINT) FROM documents),
           (SELECT CAST(count(*) AS BIGINT) FROM nc),
           (SELECT v FROM nc ORDER BY c DESC, v DESC LIMIT 1),
           (SELECT CAST(c AS BIGINT) FROM nc
            ORDER BY c DESC, v DESC LIMIT 1)
    """,
)
def q243_table_profile(spark, sf_dir):
    """Per-column data-quality profile (operators/stats.py
    table_profile -- the dbt-test/Deequ release audit): null rate,
    exact distinct count, dominant value per column; constant or
    fallback pollution ('', 'unknown') shows up as a top_value with an
    outsized top_count. Per column ONE map-combined value-count
    groupBy + ONE max(struct) argmax (ties documented: largest value);
    approx_count_distinct swap documented for 10^12 rows. Profiled:
    lang, source, n_chars."""
    from ..operators.stats import table_profile

    return table_profile(
        _read(spark, sf_dir, "documents"), ["lang", "source", "n_chars"]
    )


# --- wave: 3-level shrinkage / sitemap coverage audit (q254-q255) ------------


@q(
    "q254_hierarchy_shrinkage",
    """
    -- hosts: source-X-(doc_id % 7); domains: source (q214's shape, one
    -- more level). alpha=20 host->domain, beta=50 domain->global.
    WITH h AS (
      SELECT source || '-' || CAST(doc_id % 7 AS VARCHAR) AS host,
             source AS domain, n_chars
      FROM documents
    ),
    ha AS (
      SELECT host, domain, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS s
      FROM h GROUP BY host, domain
    ),
    da AS (
      SELECT domain, sum(s) AS ds, sum(n_docs) AS dn
      FROM ha GROUP BY domain
    ),
    g AS (
      SELECT sum(ds) * 1000000 // sum(dn) AS gm FROM da
    ),
    dsh AS (
      SELECT domain,
             (ds * 1000000 + 50 * g.gm) // (dn + 50)
               AS dom_shrunk_micros
      FROM da CROSS JOIN g
    )
    SELECT ha.host, ha.domain, ha.n_docs,
           ha.s * 1000000 // ha.n_docs AS mean_micros,
           CAST(dsh.dom_shrunk_micros AS BIGINT) AS dom_shrunk_micros,
           CAST((ha.s * 1000000 + 20 * dsh.dom_shrunk_micros)
                // (ha.n_docs + 20) AS BIGINT) AS shrunk_micros
    FROM ha JOIN dsh USING (domain)
    """,
)
def q254_hierarchy_shrinkage(spark, sf_dir):
    """THREE-level empirical-Bayes quality (operators/textstats.py
    shrunk_hierarchy_quality -- multilevel partial pooling, Gelman's
    radon model applied to hosts): a thin host borrows from its
    domain, a thin DOMAIN borrows from the corpus -- the behavior
    q214's one-level shrink can't give. ONE corpus pass (host partial
    agg); domain and global levels aggregate host-count rows and
    broadcast back down; integer micros, three floors, engine-exact."""
    from ..operators.textstats import shrunk_hierarchy_quality

    d = _read(spark, sf_dir, "documents").select(
        F.concat(
            F.col("source"), F.lit("-"),
            (F.col("doc_id") % 7).cast("string"),
        ).alias("host"),
        F.col("source").alias("domain"),
        "n_chars",
    )
    return shrunk_hierarchy_quality(d, alpha=20, beta=50)


@q(
    "q268_opengraph",
    """
    SELECT doc_id, 'og:title' AS key, 'Doc ' || doc_id AS content
    FROM documents
    UNION ALL
    SELECT doc_id, 'og:type', source FROM documents
    """,
)
def q268_opengraph(spark, sf_dir):
    """OpenGraph property extraction (operators/meta.py meta_tags —
    the generic name=/property= <meta> relation, filtered to og:*):
    the social-preview surface SEO audits check next to
    title/description. The author name= row proves kind
    discrimination; plan is Scan → regexp explode → Project, no
    shuffle."""
    from ..operators.meta import meta_tags

    m = meta_tags(_meta_pages(spark, sf_dir))
    return m.filter(F.col("key").startswith("og:")).select(
        "doc_id", "key", "content"
    )


@q(
    "q269_jsonld",
    """
    SELECT doc_id, CAST(0 AS INT) AS block_idx,
           'Article' AS entity_type, 'Doc ' || doc_id AS entity_name
    FROM documents
    UNION ALL
    SELECT doc_id, 1, NULL, NULL FROM documents
    """,
)
def q269_jsonld(spark, sf_dir):
    """schema.org JSON-LD entity extraction (operators/meta.py
    jsonld_entities): fenced ld+json payloads parsed with JVM
    from_json — valid Article blocks yield (@type, name), the
    deliberately malformed second block yields NULL fields (tolerant
    reader, PERMISSIVE mode) instead of failing the page. Structured
    data is the machine-readable layer modern SEO/KG pipelines
    extract; plan = Scan → regexp posexplode → from_json Project,
    zero Python, zero shuffle."""
    from ..operators.meta import jsonld_entities

    return jsonld_entities(_meta_pages(spark, sf_dir))


# --- wave: rel-aware link edges (q270) ----------------------------------------


@q(
    "q270_nofollow_edges",
    """
    SELECT 'https://h' || doc_id || '/page' AS url,
           'https://t.example.org/f/' || doc_id AS target,
           'follow me' AS anchor, CAST(1 AS INT) AS followed
    FROM documents
    UNION ALL
    SELECT 'https://h' || doc_id || '/page',
           'https://t.example.org/n/' || doc_id, 'spam',
           CAST(0 AS INT)
    FROM documents
    UNION ALL
    SELECT 'https://h' || doc_id || '/page',
           'https://t.example.org/s/' || doc_id, 'ad', CAST(0 AS INT)
    FROM documents WHERE doc_id % 2 = 1
    """,
)
def q270_nofollow_edges(spark, sf_dir):
    """rel-aware link-graph edges (operators/linkgraph.py
    rel_anchor_pairs over htmlx/anchors._RelAnchorWalker): nofollow /
    ugc / sponsored (Google's 2019 rel triad) mark an edge
    non-endorsing, the semantics PageRank/TrustRank builders (q83,
    q204) must honor — without it every guestbook-spam link endorses
    its target. ``rel`` is a space-split token LIST per the HTML spec
    ("ugc nofollow" exercised), the sponsored link flips attribute
    order and uses an unquoted value. Same single-parse Arrow regime
    as anchor_pairs; the token check is arrays_overlap codegen after
    the JVM explode."""
    from ..operators.linkgraph import rel_anchor_pairs

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><a href="https://t.example.org/f/'), sid,
        F.lit('">follow me</a>'),
        F.lit('<a href="https://t.example.org/n/'), sid,
        F.lit('" rel="ugc nofollow">spam</a>'),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(
                F.lit('<a rel=sponsored href="https://t.example.org/s/'),
                sid, F.lit('">ad</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://h"), sid, F.lit("/page")).alias("url"),
        html.alias("html"),
    )
    return rel_anchor_pairs(pages)


@q(
    "q274_mixed_content",
    """
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END
             || '://h' || doc_id || '/page' AS url,
           CAST(3 AS BIGINT) AS n_resources,
           CAST(2 AS BIGINT) AS n_insecure,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
             AS mixed
    FROM documents
    """,
)
def q274_mixed_content(spark, sf_dir):
    """Mixed-content audit (operators/meta.py mixed_content_audit):
    http:// resources on an https:// page — browser-blocked and
    audit-flagged. Resources = effective img sources (lazy-load
    aware) + srcset widest variants + <link href>s; per-page counts
    via one partial-agg groupBy, page scheme gating the verdict.
    Fixture: every page loads 2 insecure of 3 resources; only the
    https pages (even ids) flag mixed."""
    from ..operators.meta import mixed_content_audit

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("https")) \
        .otherwise(F.lit("http"))
    html = F.concat(
        F.lit('<html><head><link rel="stylesheet" '
              'href="http://cdn.example.org/s.css"></head><body>'),
        F.lit('<img src="http://cdn.example.org/x-'), sid,
        F.lit('.png"><img src="https://cdn.example.org/y-'), sid,
        F.lit('.png"></body></html>'),
    )
    pages = d.select(
        F.concat(scheme, F.lit("://h"), sid, F.lit("/page"))
        .alias("url"),
        html.alias("html"),
    )
    return mixed_content_audit(pages)


# --- wave: base-href-aware link resolution (q290) -----------------------------


@q(
    "q290_base_href_links",
    """
    SELECT 'https://cdn.example.net/t/' || doc_id || '/page' AS url,
           CASE WHEN doc_id % 2 = 0
                THEN 'https://real' || doc_id || '.com/dir/'
                ELSE 'https://cdn.example.net/t/' || doc_id || '/page'
             END AS base,
           CASE WHEN doc_id % 2 = 0
                THEN 'https://real' || doc_id || '.com/about'
                ELSE 'https://cdn.example.net/about' END AS target,
           'about' AS anchor
    FROM documents
    UNION ALL
    SELECT 'https://cdn.example.net/t/' || doc_id || '/page',
           CASE WHEN doc_id % 2 = 0
                THEN 'https://real' || doc_id || '.com/dir/'
                ELSE 'https://cdn.example.net/t/' || doc_id || '/page'
             END,
           'https://ext.example.org/x', 'ext'
    FROM documents
    """,
)
def q290_base_href_links(spark, sf_dir):
    """<base href>-aware link resolution (operators/linkgraph.py
    anchor_pairs_base_aware): when a page declares a base element,
    relative hrefs resolve against IT, not the page url — the HTML
    rule templated/CDN-hosted sites rely on; ignoring it silently
    corrupts the link graph for every such page. Fixture: even docs
    declare an off-host base so their root-relative '/about' must
    land on the base host; odd docs have no base and resolve against
    the page; an absolute external link must be unaffected either
    way. Base extraction is one codegen regexp; plan stays the
    single-parse zero-shuffle anchor shape."""
    from ..operators.linkgraph import anchor_pairs_base_aware

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit('<base href="https://real'), sid,
                     F.lit('.com/dir/">')),
        ).otherwise(F.lit("")),
        F.lit('</head><body><a href="/about">about</a>'
              '<a href="https://ext.example.org/x">ext</a>'
              "</body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://cdn.example.net/t/"), sid,
                 F.lit("/page")).alias("url"),
        html.alias("html"),
    )
    return anchor_pairs_base_aware(pages)


@q(
    "q292_seo_health",
    """
    WITH p AS (
      SELECT 'h' || (doc_id % 20) AS host,
             CASE WHEN doc_id % 4 = 0 THEN 'Shared Title'
                  ELSE 'Doc ' || doc_id || ' long title' END AS title,
             CASE WHEN doc_id % 5 = 0 THEN ''
                  ELSE 'desc ' || doc_id END AS meta_description
      FROM documents
    ),
    pt AS (SELECT host, title, count(*) AS n FROM p GROUP BY 1, 2),
    dup AS (SELECT host, CAST(sum(n) AS BIGINT) AS n_dup_title_pages
            FROM pt WHERE n > 1 GROUP BY 1)
    SELECT p.host, CAST(count(*) AS BIGINT) AS n_pages,
           CAST(coalesce(any_value(dup.n_dup_title_pages), 0)
                AS BIGINT) AS n_dup_title_pages,
           CAST(sum(CASE WHEN meta_description = '' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing_desc,
           CAST(sum(CASE WHEN length(title) < 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_short_title
    FROM p LEFT JOIN dup ON dup.host = p.host
    GROUP BY p.host
    """,
)
def q292_seo_health(spark, sf_dir):
    """Per-host SEO health card (operators/textstats.py
    seo_health_rollup) — the Search-Console-style rollup the
    reference's per-page reports imply but never aggregate: duplicate
    titles (every 4th page shares one), missing descriptions (every
    5th), short titles. Two partial-agg groupBys + a host-keyed left
    join, no window; oracle restates the same grouping algebra."""
    from ..operators.textstats import seo_health_rollup

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    pages = d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string"))
        .alias("host"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("Shared Title"))
        .otherwise(F.concat(F.lit("Doc "), sid, F.lit(" long title")))
        .alias("title"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("desc "), sid))
        .alias("meta_description"),
    )
    return seo_health_rollup(pages)


# --- wave: accessibility audit + third-party census (q293-q294) ---------------


@q(
    "q293_a11y_audit",
    """
    SELECT doc_id,
           CAST(2 AS INT) AS n_images,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
             AS n_missing_alt,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT)
             AS n_h1,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INT)
             AS n_level_skips
    FROM documents
    """,
)
def q293_a11y_audit(spark, sf_dir):
    """Accessibility / outline audit (operators/meta.py a11y_audit):
    alt-less images and broken heading ladders — WCAG findings that
    double as page-quality curation signals. Fixture: two images (one
    losing its alt on even ids), a duplicate h1 every 3rd doc, an
    h1→h3 level skip every 4th. Level-skip detection is zip_with over
    the heading-level array and its shifted self — array codegen, no
    walker, no shuffle."""
    from ..operators.meta import a11y_audit

    d = _read(spark, sf_dir, "documents")
    alt2 = F.when(F.col("doc_id") % 2 == 0, F.lit("")) \
        .otherwise(F.lit(' alt="b"'))
    h_tail = F.when(
        F.col("doc_id") % 4 == 0, F.lit("<h3>skip</h3>")
    ).otherwise(F.lit("<h2>ok</h2>"))
    extra_h1 = F.when(
        F.col("doc_id") % 3 == 0, F.lit("<h1>again</h1>")
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<html><body><img src="a.png" alt="a"><img src="b.png"'),
        alt2, F.lit("><h1>T</h1>"), h_tail, extra_h1,
        F.lit("</body></html>"),
    )
    return a11y_audit(d.select("doc_id", html.alias("html")))


@q(
    "q294_third_party_census",
    """
    WITH sites AS (
      SELECT DISTINCT 's' || (doc_id % 10) AS site_host,
             count(*) OVER (PARTITION BY doc_id % 10) AS np
      FROM documents
    ),
    n AS (SELECT 's' || (doc_id % 10) AS site_host,
                 CAST(count(*) AS BIGINT) AS n_pages
          FROM documents GROUP BY 1)
    SELECT site_host, 'cdn.example.org' AS third_party_host, n_pages
    FROM n
    UNION ALL
    SELECT site_host, 'tracker.example.net',
           CAST((SELECT count(*) FROM documents d2
                 WHERE 's' || (d2.doc_id % 10) = n.site_host
                   AND d2.doc_id % 2 = 0) AS BIGINT)
    FROM n
    WHERE EXISTS (SELECT 1 FROM documents d2
                  WHERE 's' || (d2.doc_id % 10) = n.site_host
                    AND d2.doc_id % 2 = 0)
    """,
)
def q294_third_party_census(spark, sf_dir):
    """Third-party dependency census (operators/meta.py
    third_party_census; the WebCensus-style measurement): per (site,
    third-party host) how many DISTINCT pages embed it — tracker
    prevalence, CDN reliance, supply-chain surface. Fixture: every
    page loads one CDN script and a same-site image (must NOT count);
    even pages add a tracker pixel; a duplicate CDN reference per
    page proves the distinct-pages semantics. Codegen extraction, one
    distinct, one partial-agg groupBy."""
    from ..operators.meta import third_party_census

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    hid = (F.col("doc_id") % 10).cast("string")
    html = F.concat(
        F.lit('<script src="https://cdn.example.org/a.js"></script>'),
        F.lit('<script src="https://cdn.example.org/b.js"></script>'),
        F.lit('<img src="https://s'), hid, F.lit('/self.png">'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit('<img src="https://tracker.example.net/px.gif">'),
        ).otherwise(F.lit("")),
    )
    pages = d.select(
        F.concat(F.lit("https://s"), hid, F.lit("/p/"), sid)
        .alias("url"),
        html.alias("html"),
    )
    return third_party_census(pages)


# --- wave: survivor enrichment (q299) -----------------------------------------


@q(
    "q299_survivor_enrichment",
    """
    WITH m AS (
      SELECT doc_id - doc_id % 3 AS cluster, doc_id,
             1704067200 + doc_id * 7 AS ts_epoch,
             CAST((doc_id * 13) % 997 AS BIGINT) * 1000
               AS quality_micros,
             CAST(doc_id % 7 AS BIGINT) AS inlinks
      FROM documents
    )
    SELECT cluster,
           CAST(min(doc_id) AS BIGINT) AS survivor_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(ts_epoch) AS BIGINT) AS earliest_ts_epoch,
           CAST(max(quality_micros) AS BIGINT) AS max_quality_micros,
           CAST(sum(inlinks) AS BIGINT) AS total_inlinks,
           CAST(floor(1e6 / count(*)) AS BIGINT) AS weight_micros
    FROM m GROUP BY cluster
    """,
)
def q299_survivor_enrichment(spark, sf_dir):
    """Post-dedup survivor consolidation (operators/dedup.py
    survivor_enrichment): the losers' signals fold onto the kept
    document — earliest timestamp, best quality, total inlinks — plus
    the SoftDeDup-style ``1e6/n_members`` down-weight for pipelines
    that keep every member but normalize the cluster's gradient
    contribution to one document. One map-combinable groupBy on the
    cluster key; composes directly on q50's cluster labels (fixture
    uses closed-form groups of three)."""
    from ..operators.dedup import survivor_enrichment

    d = _read(spark, sf_dir, "documents")
    members = d.select(
        (F.col("doc_id") - F.col("doc_id") % 3).alias("cluster"),
        "doc_id",
        (F.lit(1704067200) + F.col("doc_id") * 7).cast("bigint")
        .alias("ts_epoch"),
        ((F.col("doc_id") * 13) % 997 * 1000).cast("bigint")
        .alias("quality_micros"),
        (F.col("doc_id") % 7).cast("bigint").alias("inlinks"),
    )
    return survivor_enrichment(members)


# --- wave: site health card capstone (q300) -----------------------------------


@q(
    "q300_site_health_card",
    """
    WITH p AS (
      SELECT doc_id, 'h' || (doc_id % 20) AS host,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS noindex,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS mixed,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS brokenf,
             CASE WHEN doc_id % 2 = 0 THEN 'Shared Title'
                  ELSE 'T' || doc_id END AS title
      FROM documents
    ),
    pt AS (SELECT host, title, count(*) AS n FROM p GROUP BY 1, 2),
    dup AS (SELECT host, CAST(sum(n) AS BIGINT) AS n_dup_title_pages
            FROM pt WHERE n > 1 GROUP BY 1)
    SELECT p.host, CAST(count(*) AS BIGINT) AS n_pages,
           CAST(sum(noindex) AS BIGINT) AS n_noindex,
           CAST(sum(mixed) AS BIGINT) AS n_mixed,
           CAST(sum(brokenf) AS BIGINT) AS n_broken_frag,
           CAST(coalesce(any_value(dup.n_dup_title_pages), 0)
                AS BIGINT) AS n_dup_title_pages
    FROM p LEFT JOIN dup ON dup.host = p.host
    GROUP BY p.host
    """,
)
def q300_site_health_card(spark, sf_dir):
    """Per-host site health card — the capstone COMPOSITION: four
    independent audit relations (robots-meta indexability q267,
    mixed content q274, fragment integrity q296, duplicate titles
    q292) built from ONE shared page fixture and joined into one card
    in ONE Catalyst plan — the q245-style proof that this engine's
    audits are relations that compose, not reports that concatenate.
    Every component keys on the host/url the page store is bucketed
    by; the plan is four partial-agg branches over one scan lineage
    plus host-keyed joins, no window."""
    from ..operators.meta import (
        broken_fragment_links,
        mixed_content_audit,
        robots_meta_flags,
    )
    from ..operators.textstats import seo_health_rollup

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    hid = (F.col("doc_id") % 20).cast("string")
    html = F.concat(
        F.lit("<html><head>"),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit('<meta name="robots" content="noindex">'))
        .otherwise(F.lit("")),
        F.lit("</head><body>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit('<img src="http://cdn.example.org/i.png">'),
        ).otherwise(
            F.lit('<img src="https://cdn.example.org/i.png">')
        ),
        F.lit('<div id="top"></div><a href="#top">up</a>'),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit('<a href="#gone">x</a>')).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    url = F.concat(F.lit("https://h"), hid, F.lit("/p/"), sid)
    pages = d.select(
        "doc_id", F.concat(F.lit("h"), hid).alias("host"),
        url.alias("url"), html.alias("html"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("Shared Title"))
        .otherwise(F.concat(F.lit("T"), sid)).alias("title"),
        F.lit("d").alias("meta_description"),
    )
    host_of = pages.select("doc_id", "host", "url")

    ridx = robots_meta_flags(pages).join(host_of, "doc_id").groupBy(
        "host"
    ).agg(
        F.count("*").cast("bigint").alias("n_pages"),
        F.sum("noindex").cast("bigint").alias("n_noindex"),
    )
    mixed = mixed_content_audit(pages).join(
        host_of.select("url", "host"), "url"
    ).groupBy("host").agg(
        F.sum("mixed").cast("bigint").alias("n_mixed")
    )
    frags = broken_fragment_links(pages).join(host_of, "doc_id") \
        .groupBy("host").agg(
            F.sum(F.when(F.col("n_broken") > 0, 1).otherwise(0))
            .cast("bigint").alias("n_broken_frag")
        )
    seo = seo_health_rollup(pages).select("host", "n_dup_title_pages")
    return (
        ridx.join(mixed, "host")
        .join(frags, "host")
        .join(seo, "host")
        .select("host", "n_pages", "n_noindex", "n_mixed",
                "n_broken_frag", "n_dup_title_pages")
    )


# --- wave: form census + microdata (q307-q308) --------------------------------


@q(
    "q307_form_census",
    """
    SELECT doc_id, 1 AS form_idx, '/login' AS action, 'post' AS method,
           3 AS n_inputs, 1 AS n_password, 0 AS n_email, 1 AS n_hidden,
           'login' AS kind
    FROM documents WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id, 1, '/search', 'get', 1, 0, 0, 0, 'search'
    FROM documents WHERE doc_id % 4 = 1
    UNION ALL
    SELECT doc_id, 2, '/fb', 'get', 1, 0, 0, 0, 'other'
    FROM documents WHERE doc_id % 4 = 1
    UNION ALL
    SELECT doc_id, 1, 'https://news.example.org/sub', 'post',
           1, 0, 1, 0, 'newsletter'
    FROM documents WHERE doc_id % 4 = 2
    """,
)
def q307_form_census(spark, sf_dir):
    """HTML form inventory and page-kind classification (operators/
    meta.py form_census): login walls, search shells and newsletter
    capture forms are navigation chrome a training corpus filters and
    a crawl frontier stops behind. Fixture: a 3-input login form with
    hidden CSRF (every 4th doc), a search + feedback form PAIR
    (form_idx ordering proven), a one-field email signup; every rule
    (password→login, search-name→search, lone-email→newsletter,
    default method get) is stated closed-form by the oracle. Codegen
    regexp channels, zero shuffle."""
    from ..operators.meta import form_census

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    html = (
        F.when(m == 0, F.lit(
            '<html><body><form action="/login" method="POST">'
            '<input type="text" name="user">'
            '<input type="password" name="pw">'
            '<input type="hidden" name="csrf" value="t"></form>'
            "</body></html>"))
        .when(m == 1, F.lit(
            '<html><body><form action="/search">'
            '<input type="search" name="q"></form>'
            '<form action="/fb"><input type="text" name="comment">'
            "</form></body></html>"))
        .when(m == 2, F.lit(
            '<html><body><form action="https://news.example.org/sub" '
            'method="post"><input type="email" name="e"></form>'
            "</body></html>"))
        .otherwise(F.lit("<html><body>no forms</body></html>"))
    )
    return form_census(d.select("doc_id", html.alias("html")))


@q(
    "q308_microdata",
    """
    SELECT doc_id, 'Product' AS itemtype, 'name' AS prop,
           'Widget ' || CAST(doc_id AS VARCHAR) AS value
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 'Product', 'price', '9.99'
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 'Article', 'headline', 'Doc ' || CAST(doc_id AS VARCHAR)
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def q308_microdata(spark, sf_dir):
    """Schema.org microdata extraction (operators/meta.py
    microdata_items) — the third structured-data channel next to
    JSON-LD (q269) and OpenGraph (q268): flat single-scope
    (id, itemtype, prop, value) rows, content= attribute preferred
    over element text. Fixture: Product pages with a text prop and a
    meta-content price, Article pages with a headline, and prop-less
    pages emitting nothing. Codegen regexp channels, zero shuffle."""
    from ..operators.meta import microdata_items

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 3
    html = (
        F.when(m == 0, F.concat(
            F.lit('<html><body><div itemscope '
                  'itemtype="https://schema.org/Product">'
                  '<span itemprop="name">Widget '), sid,
            F.lit('</span><meta itemprop="price" content="9.99">'
                  "</div></body></html>")))
        .when(m == 1, F.concat(
            F.lit('<html><body><article itemscope '
                  'itemtype="https://schema.org/Article">'
                  '<h1 itemprop="headline">Doc '), sid,
            F.lit("</h1></article></body></html>")))
        .otherwise(F.lit("<html><body>plain</body></html>"))
    )
    return microdata_items(d.select("doc_id", html.alias("html")))


# --- wave: publish-date resolution (q309) -------------------------------------


@q(
    "q309_publish_dates",
    """
    SELECT doc_id,
      CASE doc_id % 4
        WHEN 0 THEN make_date(2024, CAST(doc_id % 12 + 1 AS INT), 3)
        WHEN 1 THEN make_date(2023, CAST(doc_id % 12 + 1 AS INT), 11)
        WHEN 2 THEN make_date(2022, CAST(doc_id % 12 + 1 AS INT), 1)
        ELSE NULL
      END AS pub_date,
      CASE doc_id % 4
        WHEN 0 THEN 'meta' WHEN 1 THEN 'jsonld' WHEN 2 THEN 'url'
        ELSE NULL
      END AS channel
    FROM documents
    """,
)
def q309_publish_dates(spark, sf_dir):
    """Publish-date resolution with precedence (operators/meta.py
    publish_dates): OpenGraph article:published_time beats JSON-LD
    datePublished beats the /YYYY/MM/ permalink pattern. The fixture
    proves precedence (meta-channel docs ALSO carry a decoy JSON-LD
    date that must lose), ISO-timestamp truncation, URL month
    resolution to the 1st, and the all-channels-absent NULL row. The
    curation axis: cutoff-aware splits and contamination windows need
    a date per document, and the three channels disagree in the wild —
    the ladder must be explicit. Codegen regexp + to_date/make_date,
    zero shuffle."""
    from ..operators.meta import publish_dates

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    mm = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    m = F.col("doc_id") % 4
    html = (
        F.when(m == 0, F.concat(
            F.lit('<html><head><meta property="article:published_time" '
                  'content="2024-'), mm,
            F.lit('-03T10:00:00Z"><script type="application/ld+json">'
                  '{"datePublished": "1999-01-01"}</script></head>'
                  "<body>a</body></html>")))
        .when(m == 1, F.concat(
            F.lit('<html><body><script type="application/ld+json">'
                  '{"@type": "NewsArticle", "datePublished": "2023-'), mm,
            F.lit('-11T00:00:00+02:00"}</script></body></html>')))
        .otherwise(F.lit("<html><body>undated</body></html>"))
    )
    url = (
        F.when(m == 2, F.concat(
            F.lit("https://blog.example.com/2022/"), mm,
            F.lit("/post-"), sid))
        .otherwise(F.concat(F.lit("https://a.example.com/p/"), sid))
    )
    return publish_dates(
        d.select("doc_id", url.alias("url"), html.alias("html"))
    )


@q(
    "q318_domain_temporal_profile",
    """
    SELECT 'alpha.co.uk' AS registrable,
           (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
             AS n_docs,
           (SELECT count(*) FROM documents
            WHERE doc_id % 2 = 0 AND doc_id % 7 != 0) AS n_dated,
           DATE '2024-01-03' AS min_pub, DATE '2024-11-03' AS max_pub
    UNION ALL
    SELECT 'beta.com',
           (SELECT count(*) FROM documents WHERE doc_id % 2 = 1),
           (SELECT count(*) FROM documents
            WHERE doc_id % 2 = 1 AND doc_id % 7 != 0),
           DATE '2023-02-01', DATE '2023-12-01'
    """,
)
def q318_domain_temporal_profile(spark, sf_dir):
    """Per-registrable-domain temporal profile — the composition of
    publish-date resolution (q309) and PSL registrable-domain
    grouping (q306): ``(registrable, n_docs, n_dated, min_pub,
    max_pub)``. The corpus-datasheet row that answers 'how fresh is
    this site's content, and what share of it is dateable at all' —
    the grouping key is the REGISTRABLE domain, not the host, so
    subdomain farms roll up honestly. Fixture: two registrables, one
    dated via the meta channel, one via the URL channel, every 7th
    doc undated; the oracle states the month-coverage extremes
    closed-form. Shape: codegen date extraction → broadcast PSL host
    dim join → one partial-agg groupBy on the registrable key."""
    from ..functions.urlnorm import registrable_domains
    from ..operators.meta import publish_dates

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    mm = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    m2 = F.col("doc_id") % 2
    undated = F.col("doc_id") % 7 == 0
    host = (
        F.when(m2 == 0, F.concat(
            F.lit("b"), (F.col("doc_id") % 3).cast("string"),
            F.lit(".alpha.co.uk")))
        .otherwise(F.concat(
            F.lit("c"), (F.col("doc_id") % 3).cast("string"),
            F.lit(".beta.com")))
    )
    html = F.when(
        (m2 == 0) & ~undated,
        F.concat(
            F.lit('<html><head><meta property="article:published_time" '
                  'content="2024-'), mm,
            F.lit('-03T08:00:00Z"></head><body>x</body></html>')),
    ).otherwise(F.lit("<html><body>x</body></html>"))
    url = F.when(
        (m2 == 1) & ~undated,
        F.concat(F.lit("https://"), host, F.lit("/2023/"), mm,
                 F.lit("/post-"), sid),
    ).otherwise(F.concat(F.lit("https://"), host, F.lit("/p/"), sid))
    pages = d.select(
        "doc_id", host.alias("host"), url.alias("url"), html.alias("html")
    )
    dated = publish_dates(pages).join(
        pages.select("doc_id", "host"), "doc_id"
    )
    regs = registrable_domains(pages.select("host"))
    return (
        dated.join(F.broadcast(regs.select("host", "registrable")), "host")
        .groupBy("registrable")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("pub_date").cast("bigint").alias("n_dated"),
            F.min("pub_date").alias("min_pub"),
            F.max("pub_date").alias("max_pub"),
        )
    )


@q(
    "q320_template_leaks",
    """
    SELECT doc_id,
      CASE doc_id % 4 WHEN 0 THEN 2 ELSE 0 END AS n_mustache,
      CASE doc_id % 4 WHEN 1 THEN 1 ELSE 0 END AS n_erb,
      CASE doc_id % 4 WHEN 0 THEN 1 ELSE 0 END AS n_jinja_tags,
      CASE doc_id % 4 WHEN 2 THEN 1 ELSE 0 END AS n_php,
      CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 1 ELSE 0 END AS leaky
    FROM documents
    """,
)
def q320_template_leaks(spark, sf_dir):
    """Unrendered-template artifact audit (operators/textstats.py
    template_leak_audit): mustache/ERB/jinja/PHP syntax in served
    text marks broken renders whose 'prose' is variable names —
    corpus poison, and a site-wide health signal (composes with
    q300's per-host card). Fixture strata carry two {{vars}} plus a
    {% tag %}, one <%= erb %>, one <?php leak, and clean text with
    decoy braces; the oracle states every count closed-form. Four
    codegen regexp counts, zero shuffle."""
    from ..operators.textstats import template_leak_audit

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    text = (
        F.when(m == 0, F.lit(
            "Welcome {{ user.name }} to {{ site }} {% if x %} end"))
        .when(m == 1, F.lit("Price: <%= item.price %> dollars"))
        .when(m == 2, F.lit("<?php echo $title; ?> page"))
        .otherwise(F.lit("clean prose with { single } braces"))
    )
    return template_leak_audit(d.select("doc_id", text.alias("text")))


# --- wave: noindex-inlink contradiction + title duplication (q321-q322) -------


@q(
    "q321_noindex_inlinks",
    """
    WITH ind AS (
      SELECT doc_id % 50 AS k, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    )
    SELECT 'u' || CAST(d.doc_id AS VARCHAR) AS url,
           CASE WHEN d.doc_id % 4 = 0 THEN 1 ELSE 0 END AS noindex,
           CAST(coalesce(ind.n, 0) AS BIGINT) AS n_inlinks,
           CASE WHEN d.doc_id % 4 = 0 AND coalesce(ind.n, 0) > 0
             THEN 1 ELSE 0 END AS wasted
    FROM documents d LEFT JOIN ind ON ind.k = d.doc_id
    """,
)
def q321_noindex_inlinks(spark, sf_dir):
    """Noindex-but-linked contradiction audit (operators/meta.py
    noindex_inlink_audit): robots directives (q267's channel)
    cross-referenced with link in-degree — link equity into
    unrankable pages is architecture waste, and a frontier can
    deprioritize those families. Fixture: every 4th page noindexed,
    every page linking to the low-id URL family, so exactly the
    noindexed members of that family light up ``wasted``; the oracle
    states in-degree closed-form per id. One in-degree partial agg +
    one url-keyed left join."""
    from ..operators.meta import noindex_inlink_audit

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = F.concat(F.lit("u"), sid)
    html = F.when(
        F.col("doc_id") % 4 == 0,
        F.lit('<html><head><meta name="robots" content="noindex">'
              "</head><body>x</body></html>"),
    ).otherwise(F.lit("<html><body>x</body></html>"))
    pages = d.select(url.alias("url"), html.alias("html"))
    edges = d.select(
        url.alias("src"),
        F.concat(F.lit("u"), (F.col("doc_id") % 50).cast("string"))
        .alias("dst"),
    )
    return noindex_inlink_audit(pages, edges)


@q(
    "q322_title_duplication",
    """
    WITH p AS (
      SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
             CASE WHEN doc_id % 3 = 0 THEN 'Template Title'
               ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END AS title
      FROM documents
    )
    SELECT host, title, CAST(count(*) AS BIGINT) AS n_pages,
           CASE WHEN count(*) > 1 THEN 1 ELSE 0 END AS is_dup
    FROM p GROUP BY host, title
    """,
)
def q322_title_duplication(spark, sf_dir):
    """Per-host duplicate-title clusters (operators/meta.py
    title_duplication): the metadata-level template-farm signal —
    titles duplicate even when body text was spun, complementing
    body-level template detection (q94/q96). Fixture: every 3rd page
    on each of 20 hosts shares one boilerplate title; the oracle
    replays the same (host, title) rollup. One map-combined groupBy
    on a host-prefixed key."""
    from ..operators.meta import title_duplication

    d = _read(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string"))
    title = F.when(
        F.col("doc_id") % 3 == 0, F.lit("Template Title")
    ).otherwise(F.concat(F.lit("Doc "), F.col("doc_id").cast("string")))
    return title_duplication(
        d.select(host.alias("host"), title.alias("title"))
    )


# --- wave: unified page-role taxonomy (q325) ----------------------------------


@q(
    "q325_page_roles",
    """
    SELECT 'https://r.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
      CASE doc_id % 5
        WHEN 0 THEN 'redirect-shell'
        WHEN 1 THEN 'amp-variant'
        WHEN 2 THEN 'pagination-continuation'
        WHEN 3 THEN 'noindex'
        ELSE 'content'
      END AS role
    FROM documents
    """,
)
def q325_page_roles(spark, sf_dir):
    """Unified page-role taxonomy capstone (operators/meta.py
    page_roles): one label per page from four audited channels with
    declared precedence — redirect shells (q291) beat AMP variants
    (q319) beat pagination continuations (q317) beat noindex (q267)
    beat content. The single key a scheduler dedups fetches on and a
    corpus builder filters on. The fixture seeds precedence
    violations deliberately (the redirect page ALSO carries the amp
    attribute; the continuation page is ALSO noindexed) so the
    ladder's order is what the oracle checks, not just channel
    presence. Three url-keyed left joins over per-page codegen
    relations."""
    from ..operators.meta import page_roles

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 5
    url = F.concat(F.lit("https://r.example.com/p"), sid)
    html = (
        F.when(m == 0, F.lit(
            '<html amp><head><meta http-equiv="refresh" '
            'content="0;url=https://r.example.com/new">'
            "</head><body>moved</body></html>"))
        .when(m == 1, F.concat(
            F.lit('<html amp><head><link rel="canonical" '
                  'href="https://r.example.com/c/'), sid,
            F.lit('"></head><body>a</body></html>')))
        .when(m == 2, F.concat(
            F.lit('<html><head><link rel="prev" '
                  'href="https://r.example.com/p0">'
                  '<meta name="robots" content="noindex"></head>'
                  "<body>page 2</body></html>")))
        .when(m == 3, F.lit(
            '<html><head><meta name="robots" content="noindex">'
            "</head><body>hidden</body></html>"))
        .otherwise(F.lit("<html><body>real content</body></html>"))
    )
    return page_roles(d.select(url.alias("url"), html.alias("html")))


@q(
    "q327_error_leaks",
    """
    SELECT doc_id,
      CASE doc_id % 5 WHEN 0 THEN 1 ELSE 0 END AS n_php,
      CASE doc_id % 5 WHEN 1 THEN 2 ELSE 0 END AS n_traceback,
      CASE doc_id % 5 WHEN 2 THEN 2 ELSE 0 END AS n_java,
      CASE doc_id % 5 WHEN 3 THEN 1 ELSE 0 END AS n_sql,
      CASE WHEN doc_id % 5 IN (0, 1, 2, 3) THEN 1 ELSE 0 END AS leaky
    FROM documents
    """,
)
def q327_error_leaks(spark, sf_dir):
    """Server-error leak audit — soft-500 detection (operators/
    textstats.py error_leak_audit): PHP warnings, Python tracebacks,
    JVM stack frames and SQL errors served as page text. The sibling
    of q320 (unrendered templates) and q191 (soft-404): error pages
    return 200 and poison a corpus with path/version strings.
    Fixture strata carry one leak family each (the traceback stratum
    counts both the header and a File line; the Java stratum an
    'at ...' frame plus the thread banner), last stratum clean prose
    with decoy words. Codegen regexp counts, zero shuffle."""
    from ..operators.textstats import error_leak_audit

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    text = (
        F.when(m == 0, F.lit(
            "PHP Fatal error: Uncaught Error in /var/www/app.php"))
        .when(m == 1, F.lit(
            'Traceback (most recent call last): File "app.py", line 3'))
        .when(m == 2, F.lit(
            'Exception in thread "main" java.lang.NullPointerException\n'
            "  at com.example.App.run(App.java:42)"))
        .when(m == 3, F.lit(
            "You have an error in your SQL syntax near SELECT"))
        .otherwise(F.lit(
            "a clean page discussing error handling and warnings"))
    )
    return error_leak_audit(d.select("doc_id", text.alias("text")))


# --- wave: non-content families + articleBody cross-check (q332-q333) ---------


@q(
    "q332_noncontent_flags",
    """
    SELECT doc_id,
      CASE doc_id % 5 WHEN 0 THEN 1 ELSE 0 END AS parked,
      CASE doc_id % 5 WHEN 1 THEN 1 ELSE 0 END AS consent_wall,
      CASE doc_id % 5 WHEN 2 THEN 1 ELSE 0 END AS under_construction,
      CASE doc_id % 5 WHEN 3 THEN 1 ELSE 0 END AS paywall_hint,
      CASE WHEN doc_id % 5 IN (0, 1, 2, 3) THEN 1 ELSE 0 END
        AS n_families
    FROM documents
    """,
)
def q332_noncontent_flags(spark, sf_dir):
    """Non-content page-family flags (operators/textstats.py
    noncontent_page_flags): registrar parking landers, cookie-consent
    interstitials, under-construction placeholders, paywall stubs —
    the four remaining systematic junk families after soft-404
    (q191), soft-500 (q327) and template leaks (q320), each a
    production corpus-exclusion rule. Fixture: one family per
    stratum (two phrases of the same family must count ONCE in
    n_families) and clean prose whose lone word 'cookies' must not
    trip the consent pattern. Codegen rlike probes, zero shuffle."""
    from ..operators.textstats import noncontent_page_flags

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    text = (
        F.when(m == 0, F.lit(
            "This domain is for sale. Contact the broker today."))
        .when(m == 1, F.lit(
            "We use cookies. Accept all cookies to proceed."))
        .when(m == 2, F.lit("Site under construction, coming soon."))
        .when(m == 3, F.lit("Subscribe to continue reading this story."))
        .otherwise(F.lit(
            "ordinary prose about baking biscuits and cookies recipes"))
    )
    return noncontent_page_flags(d.select("doc_id", text.alias("text")))


# --- wave: one-plan page-curation mart (q336) ---------------------------------


@q(
    "q336_curation_mart",
    """
    SELECT doc_id,
      CASE doc_id % 4
        WHEN 0 THEN 'content' WHEN 1 THEN 'amp-variant'
        WHEN 2 THEN 'pagination-continuation' ELSE 'noindex'
      END AS role,
      CASE doc_id % 4 WHEN 0 THEN 3 WHEN 1 THEN 1 ELSE 0 END
        AS completeness,
      CASE doc_id % 4 WHEN 2 THEN 1 ELSE 0 END AS template_leaky,
      CASE doc_id % 4 WHEN 1 THEN 1 ELSE 0 END AS noncontent_families,
      CASE doc_id % 4 WHEN 0 THEN 1 ELSE 0 END AS admit
    FROM documents
    """,
)
def q336_curation_mart(spark, sf_dir):
    """ONE-PLAN page-curation mart: page role (q325) × article
    completeness (q323) × template-leak flag (q320) × non-content
    families (q332) joined into the single wide row a corpus builder
    filters on, plus the composed ``admit`` verdict (content role,
    no leaks, no nuisance family). The point is the PLAN: four
    operator families over one page fixture collapse into one
    Catalyst plan whose only joins are the url/doc-keyed per-page
    relations — proving the audited operators compose without
    re-scanning the corpus per signal. Fixture strata: admissible
    article, AMP variant wearing a consent wall, noindexed paginated
    continuation leaking template syntax, bare noindex shell."""
    from ..operators.meta import article_completeness, page_roles
    from ..operators.textstats import (
        noncontent_page_flags,
        template_leak_audit,
    )

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    url = F.concat(F.lit("https://m.example.com/p"), sid)
    html = (
        F.when(m == 0, F.lit(
            '<html><head><title>T</title>'
            '<meta property="article:published_time" '
            'content="2024-03-05T00:00:00Z">'
            '<meta name="author" content="A"></head>'
            "<body>real article</body></html>"))
        .when(m == 1, F.concat(
            F.lit('<html amp><head><title>T</title>'
                  '<link rel="canonical" href="https://m.example.com/c/'),
            sid, F.lit('"></head><body>amp</body></html>')))
        .when(m == 2, F.lit(
            '<html><head><link rel="prev" href="https://m.example.com/p0">'
            '<meta name="robots" content="noindex"></head>'
            "<body>page 2</body></html>"))
        .otherwise(F.lit(
            '<html><head><meta name="robots" content="noindex"></head>'
            "<body>hidden</body></html>"))
    )
    text = (
        F.when(m == 1, F.lit("Accept all cookies to continue"))
        .when(m == 2, F.lit("Welcome {{ user.name }} to page two"))
        .otherwise(F.lit("ordinary prose body"))
    )
    pages = d.select(
        "doc_id", url.alias("url"), html.alias("html"), text.alias("text")
    )
    roles = page_roles(pages).withColumnRenamed("url", "_u")
    comp = article_completeness(pages).select("doc_id", "completeness")
    tpl = template_leak_audit(pages).select(
        "doc_id", F.col("leaky").alias("template_leaky")
    )
    non = noncontent_page_flags(pages).select(
        "doc_id", F.col("n_families").alias("noncontent_families")
    )
    base = pages.select("doc_id", F.col("url").alias("_u"))
    mart = (
        base.join(roles, "_u")
        .join(comp, "doc_id")
        .join(tpl, "doc_id")
        .join(non, "doc_id")
    )
    return mart.select(
        "doc_id", "role", "completeness", "template_leaky",
        "noncontent_families",
        F.when(
            (F.col("role") == "content")
            & (F.col("template_leaky") == 0)
            & (F.col("noncontent_families") == 0), 1
        ).otherwise(0).cast("int").alias("admit"),
    )


# --- wave: JSONL schema-drift audit (q341) ------------------------------------


@q(
    "q341_json_schema_audit",
    """
    WITH d AS (SELECT doc_id, doc_id % 2 AS batch_id, doc_id % 4 AS m
               FROM documents),
    cnt AS (SELECT batch_id,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN m IN (0, 1, 2) THEN 1 ELSE 0 END)
                        AS BIGINT) AS a_present,
                   CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS b_present,
                   CAST(sum(CASE WHEN m = 3 THEN 1 ELSE 0 END)
                        AS BIGINT) AS corrupt
            FROM d GROUP BY batch_id)
    SELECT batch_id, 'a' AS field, n_rows, a_present AS n_present,
           CAST(1000000 * a_present // n_rows AS BIGINT)
             AS present_micros
    FROM cnt
    UNION ALL
    SELECT batch_id, 'b', n_rows, b_present,
           CAST(1000000 * b_present // n_rows AS BIGINT) FROM cnt
    UNION ALL
    SELECT batch_id, '_corrupt', n_rows, corrupt,
           CAST(1000000 * corrupt // n_rows AS BIGINT) FROM cnt
    """,
)
def q341_json_schema_audit(spark, sf_dir):
    """JSONL schema-drift audit (sources/jsonl.py json_schema_audit):
    per ingest batch, the presence rate of every expected field plus
    a _corrupt row counting unparseable lines — the monitoring
    relation that catches producer regressions (a field silently
    dropping from 90% to 40% presence) while every job still
    'succeeds'. Fixture strata: complete record, record missing
    field b, record with an extra undeclared field (ignored by
    PERMISSIVE parse), raw-garbage line; two interleaved batches so
    the per-batch rates differ and are stated closed-form. JVM
    Jackson parse + one (batch, field) partial agg."""
    from ..sources.jsonl import json_schema_audit

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    line = (
        F.when(m == 0, F.concat(
            F.lit('{"a": '), sid, F.lit(', "b": "x"}')))
        .when(m == 1, F.concat(F.lit('{"a": '), sid, F.lit("}")))
        .when(m == 2, F.concat(
            F.lit('{"a": '), sid, F.lit(', "c": true}')))
        .otherwise(F.lit("not json at all"))
    )
    rows = d.select(
        (F.col("doc_id") % 2).alias("batch_id"), line.alias("line")
    )
    return json_schema_audit(rows, "line", "a long, b string")


# --- wave: social handles + MIME sniff audit (q346-q347) ----------------------


@q(
    "q346_social_profiles",
    """
    SELECT doc_id, 'github' AS platform,
           'org' || CAST(doc_id % 9 AS VARCHAR) AS handle
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 'x', 'handle' || CAST(doc_id % 9 AS VARCHAR)
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 'linkedin', 'person-' || CAST(doc_id % 9 AS VARCHAR)
    FROM documents WHERE doc_id % 3 = 1
    UNION ALL
    SELECT doc_id, 'mastodon', '@user' || CAST(doc_id % 9 AS VARCHAR)
             || '@fosstodon.org'
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def q346_social_profiles(spark, sf_dir):
    """Social/developer profile-link extraction (operators/meta.py
    social_profile_links): GitHub, X/Twitter (reserved paths like
    /intent/ excluded), LinkedIn /in/ profiles, Mastodon
    @user@host — the author-identity channel whose cross-page handle
    reuse exposes content farms sharing one identity across
    'independent' sites. Fixture: github+x pair (the x link written
    UPPERCASE to prove case folding, plus an /intent/ decoy that
    must not match), linkedin+mastodon pair, linkless stratum.
    Codegen channels, distinct per (id, platform, handle)."""
    from ..operators.meta import social_profile_links

    d = _read(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 9).cast("string")
    m = F.col("doc_id") % 3
    html = (
        F.when(m == 0, F.concat(
            F.lit('<a href="https://github.com/org'), g,
            F.lit('/repo">gh</a> <a href="https://x.com/HANDLE'), g,
            F.lit('">x</a> <a href="https://x.com/intent/tweet">no</a>')))
        .when(m == 1, F.concat(
            F.lit('<a href="https://www.linkedin.com/in/person-'), g,
            F.lit('">li</a> follow @user'), g,
            F.lit("@fosstodon.org for updates")))
        .otherwise(F.lit("<p>no profiles here</p>"))
    )
    return social_profile_links(d.select("doc_id", html.alias("html")))
