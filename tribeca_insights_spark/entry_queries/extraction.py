"""HTML extraction, boilerplate/content, PDF/layout, normalization, report sinks.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


# --- extraction over synthesized HTML (SURVEY §2.2 O1, O4-O11) -------------

@q(
    "q01_extract_seo",
    f"""
    SELECT doc_id,
           'https://' || source || '.example.com/docs/' || doc_id AS url,
           'Doc ' || doc_id AS title,
           source || ' document' AS meta_description,
           '# Heading ' || doc_id AS headings_str,
           'docs-' || doc_id AS slug,
           2 AS n_external,
           1 AS n_internal,
           1 AS n_images
    FROM documents
    """,
)
def q01_extract_seo(spark, sf_dir):
    ex = _extracted(spark, sf_dir)
    return ex.select(
        F.regexp_extract("url", r"/docs/(\d+)$", 1).cast("bigint").alias("doc_id"),
        "url",
        "title",
        "meta_description",
        F.concat_ws("\n", "headings").alias("headings_str"),
        "slug",
        F.size("external_links").alias("n_external"),
        F.size("internal_links").alias("n_internal"),
        F.size("images").alias("n_images"),
    )


@q(
    "q02_extract_text_hash",
    f"""
    SELECT doc_id,
           {_EXPECTED_TEXT} AS extracted_text,
           sha256({_EXPECTED_TEXT}) AS page_hash
    FROM documents
    """,
)
def q02_extract_text_hash(spark, sf_dir):
    ex = _extracted(spark, sf_dir)
    return ex.select(
        F.regexp_extract("url", r"/docs/(\d+)$", 1).cast("bigint").alias("doc_id"),
        F.col("text").alias("extracted_text"),
        "page_hash",
    )


@q(
    "q31_page_markdown",
    f"""
    SELECT doc_id,
      '# `https://' || source || '.example.com/docs/' || doc_id || e'`\\n\\n'
      || '**Title**: Doc ' || doc_id || e'\\n\\n'
      || e'**Meta Description**: \\n\\n'
      || e'## Headings\\n- # Heading ' || doc_id || e'\\n\\n'
      || e'## Word Frequency (Top 50)\\n'
      || e'- **alpha**: 2\\n- **doc**: 1\\n- **heading**: 1\\n'
      || e'- **beta**: 1\\n- **gamma**: 1\\n- **ext**: 1\\n\\n'
      || e'## External Links\\n- https://ext.example.org/p\\n\\n'
      || e'## Images with ALT\\n- `src`: /i.png\\n  - alt: pic\\n'
      || e'## Cleaned Text\\n```\\n' || {_SIMPLE_TEXT_SQL} || e'...\\n```\\n\\n'
      || e'## Raw HTML\\n```html\\n' || {_SIMPLE_HTML_SQL}
      || e'\\n... (truncated)\\n```\\n\\n'
      || e'---\\n_Total words analyzed: 7_\\n' AS md_doc
    FROM documents
    """,
)
def q31_page_markdown(spark, sf_dir):
    """Per-page Markdown report (markdown.py:34-128 layout) rendered by an
    Arrow-batched pandas UDF; byte-exact vs the closed-form oracle."""
    from ..operators.sinks import page_markdown_column

    docs = documents_as_simple_pages(spark, sf_dir)
    return docs.select("doc_id", page_markdown_column(docs).alias("md_doc"))


@q(
    "q32_page_json",
    f"""
    SELECT doc_id,
      e'{{\\n  "url": "https://' || source || '.example.com/docs/' || doc_id
      || e'",\\n  "slug": "docs-' || doc_id
      || e'",\\n  "title": "Doc ' || doc_id
      || e'",\\n  "meta_description": "",\\n  "headings": [\\n    "# Heading '
      || doc_id || e'"\\n  ],\\n  "word_count": 7,\\n  "word_frequency": {{'
      || e'\\n    "doc": 1,\\n    "heading": 1,\\n    "alpha": 2,'
      || e'\\n    "beta": 1,\\n    "gamma": 1,\\n    "ext": 1\\n  }},'
      || e'\\n  "images": [\\n    {{\\n      "src": "/i.png",\\n      "alt": "pic"\\n    }}\\n  ],'
      || e'\\n  "external_links": [\\n    "https://ext.example.org/p"\\n  ],'
      || e'\\n  "page_hash": "' || sha256({_SIMPLE_TEXT_SQL})
      || e'",\\n  "md_filename": "docs-' || doc_id || e'.md"\\n}}' AS page_json
    FROM documents
    """,
)
def q32_page_json(spark, sf_dir):
    """pages_json/<slug>.json body (json.py:24-37: indent=2, key order =
    crawler.py:163-175, word_frequency = first-occurrence order)."""
    from ..operators.sinks import page_json_column

    docs = documents_as_simple_pages(spark, sf_dir)
    return docs.select("doc_id", page_json_column(docs).alias("page_json"))


@q(
    "q34_keyword_csv_lines",
    _TOKENS_CTE
    + """
    SELECT word, count(*) AS freq, word || ',' || count(*) AS line
    FROM words GROUP BY word
    """,
)
def q34_keyword_csv_lines(spark, sf_dir):
    """keyword_frequency CSV body lines (csv.py:40-53)."""
    from ..operators.sinks import keyword_frequency_csv_lines

    return keyword_frequency_csv_lines(
        tfops.corpus_tf(
            _tokens_df(spark, sf_dir).withColumn(
                "url", F.col("doc_id").cast("string")
            )
        )
    )


@q(
    "q35_index_md_lines",
    """
    SELECT DISTINCT 'docs-' || doc_id AS slug,
           '- [Docs ' || doc_id || '](pages_md/docs-' || doc_id || '.md)' AS line
    FROM documents
    """,
)
def q35_index_md_lines(spark, sf_dir):
    """index.md link lines (markdown.py:131-154: slug title-cased, glob
    order = slug sort)."""
    from ..operators.sinks import index_markdown_lines

    return index_markdown_lines(_extracted(spark, sf_dir))


@q(
    "q44_main_content",
    """
    SELECT doc_id,
           trim(regexp_replace(text, '\\s+', ' ', 'g')) AS main_text,
           'div' AS node_tag,
           'article-content' AS node_hint,
           CAST(0.0 AS DOUBLE) AS link_density
    FROM documents
    """,
)
def q44_main_content(spark, sf_dir):
    """Readability-style main-content extraction (north_star: DOM-tree
    link/text-density scoring). Page synthesized with nav/footer
    boilerplate around an article div; the classifier must pick the
    article body — whose text is closed-form — every time."""
    from ..operators.readability import extract_main

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><nav class="nav"><a href="/a">Home</a>'
              '<a href="/b">About</a><a href="/c">Contact</a></nav>'
              '<div class="sidebar"><a href="/x">one link</a>'
              '<a href="/y">two link</a></div>'
              '<div class="article-content"><p>'),
        F.col("text"),
        F.lit('</p></div><footer class="footer">(c) example</footer>'
              "</body></html>"),
    )
    docs = d.select(
        F.col("doc_id"),
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/r/"), sid).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return extract_main(docs).select(
        F.regexp_extract("url", r"/r/(\d+)$", 1).cast("bigint").alias("doc_id"),
        "main_text", "node_tag", "node_hint", "link_density",
    )


@q(
    "q48_pdf_roundtrip",
    """
    SELECT doc_id, text || chr(10) || 'Page ' || doc_id AS pdf_text
    FROM documents
    """,
)
def q48_pdf_roundtrip(spark, sf_dir):
    """PDF parse (north_rule "PDF/layout parse"): deterministic PDFs built
    per doc (FlateDecode for odd ids), text re-extracted by the pure-python
    parser — round trip must equal the source text exactly."""
    from ..operators.pdf import extract_pdf_pages, make_pdf_udf

    d = _read(spark, sf_dir, "documents")
    pdfs = d.select(
        "doc_id",
        make_pdf_udf(
            F.concat(F.col("text"), F.lit("\nPage "),
                     F.col("doc_id").cast("string")),
            (F.col("doc_id") % 2 == 1),
        ).alias("pdf"),
    )
    return extract_pdf_pages(pdfs).select("doc_id", "pdf_text")


@q(
    "q78_normalize_text",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' ' || chr(1) || 'x' || repeat(chr(8203),
               CAST(doc_id % 3 AS INT) + 1) || ' tail' || chr(127)
               || '  end' AS t
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(t,
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]',
             '', 'g'), '\s+', ' ', 'g')) AS norm_text,
           CAST(3 + doc_id % 3 AS BIGINT) AS n_junk_chars
    FROM aug
    """,
)
def q78_normalize_text(spark, sf_dir):
    """Text normalization (functions/normalize.py): control chars,
    zero-width codepoints and BOMs spliced into every document are
    stripped and whitespace-collapsed; n_junk_chars counts exactly the
    characters the strip removed (chr(1), chr(127), and doc_id%3+1
    zero-width spaces = 3 + doc_id%3). Two codegen'd regexp_replace —
    shuffle-free."""
    from ..functions.normalize import with_normalized_text

    d = _read(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" \x01x"),
            F.repeat(F.lit("\u200b"), (F.col("doc_id") % 3).cast("int") + 1),
            F.lit(" tail\x7f  end"),
        ).alias("text"),
    )
    return with_normalized_text(aug).select(
        "doc_id", "norm_text", "n_junk_chars"
    )


@q(
    "q87_main_content",
    """
    SELECT doc_id,
           'Heading ' || doc_id ||
             CASE WHEN len(string_split(text, ' ')) >= 3
                  THEN ' ' || text ELSE '' END AS main_text,
           CAST(7 AS INT) AS n_blocks,
           CAST(CASE WHEN len(string_split(text, ' ')) >= 3
                     THEN 2 ELSE 1 END AS INT) AS n_content_blocks
    FROM documents
    """,
)
def q87_main_content(spark, sf_dir):
    """Boilerplate removal / main-content extraction
    (operators/boilerplate.py, jusText-lite): block segmentation
    (htmlx/blocks.py) in one Arrow pass, then link-density + length
    classification and document-order re-join as pure array-expression
    codegen — zero shuffle, no explode (plan pinned in test_plan_shapes).
    The reference keeps whole-page text (crawler.py:163); this is the
    content tier a training pipeline runs instead. Oracle: the synthesized
    page's 7 blocks classify in closed form — h1 is content (heading
    exemption), body text iff >= 3 words; title/header/nav/links/footer
    are boilerplate (short or link-dense)."""
    from ..operators.boilerplate import main_content

    docs = documents_as_pages(spark, sf_dir)
    return main_content(docs).select(
        "doc_id", "main_text", "n_blocks", "n_content_blocks"
    )


@q(
    "q88_boilerplate_stats",
    """
    WITH w AS (
      SELECT doc_id, len(string_split(text, ' ')) AS pw FROM documents
    )
    SELECT doc_id,
           CAST(7 AS INT) AS n_blocks,
           CAST(CASE WHEN pw >= 3 THEN 2 ELSE 1 END AS INT)
             AS n_content_blocks,
           CAST(10 + pw AS INT) AS n_words_total,
           CAST(10 + pw - 2 - CASE WHEN pw >= 3 THEN pw ELSE 0 END AS INT)
             AS n_words_boiler,
           round(CAST(10 + pw - 2 - CASE WHEN pw >= 3 THEN pw ELSE 0 END
                      AS DOUBLE) / CAST(10 + pw AS DOUBLE), 4)
             AS boiler_word_ratio
    FROM w
    """,
)
def q88_boilerplate_stats(spark, sf_dir):
    """Per-page boilerplate profile (operators/boilerplate.py
    boilerplate_stats): block/word counts and the boilerplate word share —
    the measurement a content-extraction threshold decision reads. Same
    zero-shuffle array-codegen shape as q87. Oracle: closed-form word
    accounting over the synthesized 7-block page (10 chrome words + the
    body text; h1's 2 words + body text are content when >= 3 words)."""
    from ..operators.boilerplate import boilerplate_stats

    docs = documents_as_pages(spark, sf_dir)
    return boilerplate_stats(docs).select(
        "doc_id", "n_blocks", "n_content_blocks", "n_words_total",
        "n_words_boiler", "boiler_word_ratio",
    )


@q(
    "q90_content_spans",
    """
    WITH base AS (
      SELECT doc_id, text,
             length('<html><head><title>Doc ' || doc_id ||
                    '</title><meta name="description" content="' ||
                    source || ' document"></head><body>' ||
                    '<header>site header</header>' ||
                    '<nav><a href="https://nav.example.net/x">navlink' ||
                    '</a></nav>' || '<h1>') AS h1_start
      FROM documents
    )
    SELECT doc_id, CAST(3 AS INT) AS block_idx, 'h1' AS tag,
           CAST(h1_start AS INT) AS span_start,
           CAST(h1_start + length('Heading ' || doc_id) AS INT)
             AS span_end,
           'Heading ' || doc_id AS span_text
    FROM base
    UNION ALL
    SELECT doc_id, CAST(4 AS INT), 'p',
           CAST(h1_start + length('Heading ' || doc_id)
                + length('</h1><p>')
                + (length(text) - length(ltrim(text))) AS INT),
           CAST(h1_start + length('Heading ' || doc_id)
                + length('</h1><p>') + length(rtrim(text)) AS INT),
           trim(text)
    FROM base
    WHERE len(string_split(text, ' ')) >= 3
    """,
)
def q90_content_spans(spark, sf_dir):
    """Content-block source SPANS (operators/boilerplate.py
    content_spans): per content block, the [start, end) character range
    in the decoded page whose raw slice is the block's visible text, plus
    the slice itself re-cut JVM-side — the north_rule's "extracted
    text/spans per document" as an addressable provenance layer. Offsets
    come from the single-feed span walker (htmlx/blocks.py _SpanWalker);
    only 2 ints per block cross Arrow beyond the block facts. Oracle:
    offsets computed closed-form by length arithmetic over the
    reconstructed synthetic page (h1 block always content; p block iff
    >= 3 words, leading/trailing whitespace trimmed)."""
    from ..operators.boilerplate import content_spans

    docs = documents_as_pages(spark, sf_dir)
    return content_spans(docs).select(
        "doc_id", "block_idx", "tag", "span_start", "span_end",
        "span_text",
    )


@q(
    "q92_table_extract",
    """
    SELECT doc_id, CAST(0 AS INT) AS table_idx,
           CAST(0 AS INT) AS row_idx, 'key|value' AS cells_joined
    FROM documents
    UNION ALL
    SELECT doc_id, 0, 1, 'id|' || doc_id FROM documents
    UNION ALL
    SELECT doc_id, 0, 2, 'lang|' || lang FROM documents
    """,
)
def q92_table_extract(spark, sf_dir):
    """HTML table extraction (operators/tables.py table_rows): each
    ``<table>`` recovered as ordered rows of cell texts — the relational
    structure the reference's flat get_text flattens into word soup
    (crawler.py:163). One Arrow-batched walker pass, JVM-side explode, no
    shuffle. Pages synthesized with a 3-row key/value spec table per doc;
    oracle states the three rows closed-form (cells pipe-joined so the
    value hash is array-representation-independent)."""
    from ..operators.tables import table_rows

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><h1>Spec "), sid, F.lit("</h1>"),
        F.lit("<table><tr><th>key</th><th>value</th></tr>"),
        F.lit("<tr><td>id</td><td>"), sid, F.lit("</td></tr>"),
        F.lit("<tr><td>lang</td><td>"), F.col("lang"),
        F.lit("</td></tr></table></body></html>"),
    )
    pages = d.select(
        "doc_id", F.encode(html, "UTF-8").alias("html")
    )
    return table_rows(pages).select(
        "doc_id", "table_idx", "row_idx",
        F.array_join("cells", "|").alias("cells_joined"),
    )


@q(
    "q93_pdf_layout",
    """
    SELECT doc_id,
           'Alpha ' || doc_id || chr(10) ||
           'Bravo ' || source || chr(10) ||
           'Charlie ' || lang || chr(10) ||
           'Delta ' || (doc_id % 7) AS pdf_layout_text
    FROM documents
    """,
)
def q93_pdf_layout(spark, sf_dir):
    """Multi-column PDF LAYOUT parse (north_rule "PDF/layout parse",
    htmlx/pdfx.py extract_pdf_text_layout): two-column PDFs whose content
    stream emits runs ROW-major (interleaved A1,C1,B1,D1) must read back
    COLUMN-major (A,B then C,D) via Tm-position clustering — stream order
    alone cannot pass this oracle (q48 covers that tier). FlateDecode for
    odd ids exercises both raw and compressed streams. Same Arrow-batched
    Scan → ArrowEvalPython shape as every extractor."""
    from ..operators.pdf import extract_pdf_layout_pages, make_pdf_columns_udf

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    pdfs = d.select(
        "doc_id",
        make_pdf_columns_udf(
            F.concat(F.lit("Alpha "), sid, F.lit("\nBravo "),
                     F.col("source")),
            F.concat(F.lit("Charlie "), F.col("lang"), F.lit("\nDelta "),
                     (F.col("doc_id") % 7).cast("string")),
            (F.col("doc_id") % 2 == 1),
        ).alias("pdf"),
    )
    return extract_pdf_layout_pages(pdfs).select("doc_id", "pdf_layout_text")


@q(
    "q94_template_blocks",
    """
    WITH p AS (SELECT doc_id, source || '.example.com' AS host, text
               FROM documents),
    np AS (SELECT host, CAST(count(*) AS BIGINT) AS n_pages
           FROM p GROUP BY host),
    b AS (
      SELECT host, doc_id, 'Doc ' || doc_id AS block_text FROM p
      UNION ALL SELECT host, doc_id, 'site header' FROM p
      UNION ALL SELECT host, doc_id, 'navlink' FROM p
      UNION ALL SELECT host, doc_id, 'Heading ' || doc_id FROM p
      UNION ALL SELECT host, doc_id, trim(text) FROM p
                WHERE trim(text) <> ''
      UNION ALL SELECT host, doc_id, 'about ext' FROM p
      UNION ALL SELECT host, doc_id, 'footer' FROM p
    ),
    d AS (SELECT DISTINCT host, doc_id, block_text FROM b),
    c AS (SELECT host, block_text,
                 CAST(count(*) AS BIGINT) AS n_pages_with_block
          FROM d GROUP BY host, block_text)
    SELECT c.host, c.block_text, c.n_pages_with_block, np.n_pages,
           round(CAST(c.n_pages_with_block AS DOUBLE)
                 / CAST(np.n_pages AS DOUBLE), 4) AS frac_pages
    FROM c JOIN np ON c.host = np.host
    WHERE c.n_pages_with_block * 1000000 >= 500000 * np.n_pages
    """,
)
def q94_template_blocks(spark, sf_dir):
    """SITE-LEVEL template detection (operators/boilerplate.py
    template_blocks): blocks recurring on >= 50% of a host's pages are
    that host's template — the cross-page frequency tier that catches
    link-light chrome the per-page jusText rule (q87) cannot. Host parsed
    from the url natively; one Arrow segmentation pass → distinct →
    partial-agg count → broadcast page-count dim; integer-micros
    threshold so both engines agree at the boundary. Oracle enumerates
    the synthesized page's 7 blocks and runs the same counting."""
    from ..operators.boilerplate import template_blocks

    docs = documents_as_pages(spark, sf_dir).withColumn(
        "host", F.regexp_extract("url", r"^https://([^/]+)/", 1)
    )
    return template_blocks(docs)


@q(
    "q96_site_aware_content",
    """
    WITH p AS (SELECT doc_id, source, trim(text) AS t,
                      len(string_split(text, ' ')) AS pw
               FROM documents),
    np AS (SELECT source, CAST(count(*) AS BIGINT) AS n
           FROM p GROUP BY source),
    tc AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
           FROM p GROUP BY source, t)
    SELECT p.doc_id,
           trim('Heading ' || p.doc_id
                || CASE WHEN np.n < 2
                        THEN ' © ' || p.source || ' widgets est 1999'
                        ELSE '' END
                || CASE WHEN p.pw >= 3
                             AND NOT (tc.c >= 2 AND 2 * tc.c >= np.n)
                        THEN ' ' || p.t ELSE '' END) AS main_text,
           CAST(CASE WHEN length(p.t) > 0 THEN 4 ELSE 3 END AS INT)
             AS n_blocks,
           CAST(1 + (CASE WHEN np.n < 2 THEN 1 ELSE 0 END)
                + (CASE WHEN p.pw >= 3
                             AND NOT (tc.c >= 2 AND 2 * tc.c >= np.n)
                        THEN 1 ELSE 0 END) AS INT) AS n_content_blocks
    FROM p
    JOIN np ON np.source = p.source
    JOIN tc ON tc.source = p.source AND tc.t = p.t
    """,
)
def q96_site_aware_content(spark, sf_dir):
    """Two-tier main content (operators/boilerplate.py
    main_content_site_aware): per-page jusText-lite rule MINUS host
    templates. The synthesized page carries a link-light 5-word tagline
    ("© {source} widgets est 1999") on EVERY host page: the per-page
    rule (q87 tier) calls it content; only the cross-page frequency tier
    removes it. Oracle computes both tiers closed-form with the
    min_template_pages=2 repeat guard (ADVICE r3): the unique h1 can
    never be template (c=1), the tagline survives only on 1-page hosts,
    and duplicate body text is template iff c >= 2 AND 2c >= n. The ©
    guard: corpus text is letters+spaces only (verified), so tagline /
    footer literals cannot collide with body text at >= 3 words."""
    from ..operators.boilerplate import main_content_site_aware

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><h1>Heading "), sid, F.lit("</h1>"),
        F.lit("<p>© "), F.col("source"), F.lit(" widgets est 1999</p>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit("<footer>footer</footer></body></html>"),
    )
    pages = d.select(
        "doc_id",
        F.col("source").alias("host"),
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/docs/"), sid).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return main_content_site_aware(pages).select(
        "doc_id", "main_text", "n_blocks", "n_content_blocks"
    )


@q(
    "q98_page_markdown",
    """
    SELECT doc_id,
           'site header' || chr(10) || chr(10) ||
           '[navlink](https://nav.example.net/x)' || chr(10) || chr(10) ||
           '# Heading ' || doc_id ||
           CASE WHEN trim(text) <> ''
                THEN chr(10) || chr(10) || trim(text) ELSE '' END ||
           chr(10) || chr(10) ||
           '[about](/about/' || doc_id || ') ' ||
           '[ext](https://ext' || (doc_id % 5) ||
           '.example.org/page) ' ||
           '![img ' || doc_id || '](/img/' || doc_id || '.png)' ||
           chr(10) || chr(10) || 'footer' AS markdown
    FROM documents
    """,
)
def q98_page_markdown(spark, sf_dir):
    """HTML → Markdown conversion (htmlx/markdown.py via
    operators/markdown.pages_to_markdown): headings, links, and images
    preserved as structure instead of flattening to word soup — the
    training-data format a structure-aware corpus keeps. head/meta
    dropped (the title line the flat extractor emits is absent on
    purpose). Oracle states the full converted document byte-for-byte,
    including the conditional body paragraph and inline image token."""
    from ..operators.markdown import pages_to_markdown

    docs = documents_as_pages(spark, sf_dir)
    return pages_to_markdown(docs).select("doc_id", "markdown")


@q(
    "q101_nfc_normalize",
    """
    WITH inj AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 6 = 0
                          THEN ' cafe' || chr(769) ELSE '' END
                  || CASE WHEN doc_id % 9 = 0
                          THEN ' A' || chr(778) || chr(769) ELSE '' END
               AS t
      FROM documents
    )
    SELECT doc_id,
           nfc_normalize(t) AS nfc_text,
           nfc_normalize(t) <> t AS nfc_changed,
           CAST(length(t) AS INT) AS n_chars_before,
           CAST(length(nfc_normalize(t)) AS INT) AS n_chars_after
    FROM inj
    """,
)
def q101_nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization (functions/normalize.with_nfc_text):
    combining marks fold into precomposed codepoints so hash dedup and
    token matching treat 'e'+U+0301 and 'é' as the same text — web
    corpora mix both forms. Injection: %6 docs get a decomposed é
    (composes, length shrinks by 1); %9 docs get A + ring + acute
    (composes to Ǻ via the two-step canonical ordering + composition —
    a genuinely multi-mark case). Cross-engine proof: Spark runs stdlib
    unicodedata, the oracle runs DuckDB's INDEPENDENT utf8proc-based
    nfc_normalize — hash equality means two implementations of the
    Unicode standard agree byte-for-byte."""
    from ..functions.normalize import with_nfc_text

    d = _read(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 6 == 0,
                   F.lit(" cafe\u0301")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 9 == 0,
                   F.lit(" A\u030a\u0301")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = with_nfc_text(injected)
    return out.select(
        "doc_id",
        "nfc_text",
        "nfc_changed",
        F.length("text").cast("int").alias("n_chars_before"),
        F.length("nfc_text").cast("int").alias("n_chars_after"),
    )


@q(
    "q152_layout_clusters",
    """
    WITH v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
               THEN 'html>head>title>meta>body>header>nav>a>h1>p>a>a'
                    || '>img>section>h2>p>footer'
               ELSE 'html>head>title>meta>body>header>nav>a>h1>p>a>a'
                    || '>img>footer'
             END AS sig
      FROM documents
    )
    SELECT md5(sig) AS layout_hash,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(min(len(string_split(sig, '>'))) AS INT) AS n_tags,
           CAST(min(doc_id) AS BIGINT) AS min_id
    FROM v GROUP BY 1
    """,
)
def q152_layout_clusters(spark, sf_dir):
    """DOM structural-fingerprint clustering
    (operators/boilerplate.py:layout_clusters): every page reduced to
    its document-order start-tag sequence, md5'd into a layout key, one
    row per distinct skeleton — the template-farm detector, structural
    complement to content SimHash (q20) and block-text template mining
    (q94/q96). Pages here are the deterministic synthetic template with
    an extra <section><h2><p> wing grafted onto every third doc, so the
    corpus has exactly TWO skeletons; the ORACLE restates both tag
    sequences closed-form — hash-matching proves the walker emits the
    canonical start-tag stream from raw bytes. Plan: one Arrow walker
    pass (zero shuffle) + a map-combinable count/min agg on the
    template-cardinality key."""
    from ..operators.boilerplate import layout_clusters

    docs = documents_as_pages(spark, sf_dir)
    page = F.decode("html", "UTF-8")
    wing = "<section><h2>More</h2><p>extra</p></section><footer>"
    varied = docs.withColumn(
        "html",
        F.encode(
            F.when(
                (F.col("doc_id") % 3) == 0,
                F.replace(page, F.lit("<footer>"), F.lit(wing)),
            ).otherwise(page),
            "UTF-8",
        ),
    )
    return layout_clusters(varied)


# --- wave: extraction-quality eval harness (q259) ----------------------------


@q(
    "q259_extraction_eval",
    """
    WITH ext AS (
      SELECT doc_id,
             'Heading ' || doc_id ||
               CASE WHEN len(string_split(text, ' ')) >= 3
                    THEN ' ' || text ELSE '' END AS t
      FROM documents
    ),
    etok AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(trim(
               regexp_replace(t, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0)) AS w
      FROM ext
    ),
    gtok AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(trim(
               regexp_replace(text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0)) AS w
      FROM documents
    ),
    ec AS (SELECT doc_id, w, count(*) AS c FROM etok GROUP BY 1, 2),
    gc AS (SELECT doc_id, w, count(*) AS c FROM gtok GROUP BY 1, 2),
    et AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ext
           FROM ec GROUP BY 1),
    gt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_gold
           FROM gc GROUP BY 1),
    iv AS (SELECT ec.doc_id,
                  CAST(sum(least(ec.c, gc.c)) AS BIGINT) AS n_inter
           FROM ec JOIN gc ON ec.doc_id = gc.doc_id AND ec.w = gc.w
           GROUP BY 1)
    SELECT d.doc_id,
           coalesce(et.n_ext, 0) AS n_ext,
           coalesce(gt.n_gold, 0) AS n_gold,
           coalesce(iv.n_inter, 0) AS n_inter,
           CASE WHEN coalesce(et.n_ext, 0) > 0
                THEN CAST(floor(1e6 * coalesce(iv.n_inter, 0)
                                / et.n_ext) AS BIGINT)
                ELSE 0 END AS p_micros,
           CASE WHEN coalesce(gt.n_gold, 0) > 0
                THEN CAST(floor(1e6 * coalesce(iv.n_inter, 0)
                                / gt.n_gold) AS BIGINT)
                ELSE 0 END AS r_micros,
           CASE WHEN coalesce(et.n_ext, 0) + coalesce(gt.n_gold, 0) > 0
                THEN CAST(floor(2e6 * coalesce(iv.n_inter, 0)
                                / (coalesce(et.n_ext, 0)
                                   + coalesce(gt.n_gold, 0)))
                          AS BIGINT)
                ELSE 0 END AS f1_micros
    FROM documents d
    LEFT JOIN et USING (doc_id)
    LEFT JOIN gt USING (doc_id)
    LEFT JOIN iv USING (doc_id)
    """,
)
def q259_extraction_eval(spark, sf_dir):
    """Token-level extraction-quality harness (operators/boilerplate.py
    extraction_eval; CleanEval / boilerpipe-style token-bag scoring):
    run the REAL main-content extractor (q87's jusText-lite path) over
    the synthesized pages and grade it against gold = the body text
    alone. The h1 heading the extractor keeps becomes a deliberate
    false-positive token and sub-3-word bodies become false negatives,
    so P/R/F1 vary per document and the oracle states them closed-form
    through the SAME generic multiset-intersection SQL the operator
    implements (min of per-word counts — repeated words can't
    double-credit). This is the eval loop an extraction-threshold
    sweep reads at corpus scale; plan = two token groupBys, one
    (doc, word) equi-join, three doc-keyed joins, no window."""
    from ..operators.boilerplate import extraction_eval, main_content

    pages = documents_as_pages(spark, sf_dir)
    extracted = main_content(pages).select(
        "doc_id", F.col("main_text").alias("text")
    )
    gold = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return extraction_eval(extracted, gold)


# --- wave: TextTiling topic segmentation (q261) -------------------------------


@q(
    "q261_text_tiling",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(
               string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0) AS l
      FROM documents
    ),
    pos AS (
      SELECT doc_id, l[i] AS w, CAST((i - 1) // 8 AS BIGINT) AS blk
      FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
            FROM toks)
    ),
    cnt AS (SELECT doc_id, blk, w, count(*) AS c
            FROM pos GROUP BY 1, 2, 3),
    sz AS (SELECT doc_id, blk, CAST(sum(c) AS BIGINT) AS s
           FROM cnt GROUP BY 1, 2),
    ij AS (
      SELECT a.doc_id, a.blk AS gap,
             CAST(sum(least(a.c, b.c)) AS BIGINT) AS i
      FROM cnt a JOIN cnt b
        ON a.doc_id = b.doc_id AND a.w = b.w AND b.blk = a.blk + 1
      GROUP BY 1, 2
    ),
    gaps AS (
      SELECT l.doc_id, l.blk AS gap_idx,
             CAST(floor(2e6 * coalesce(ij.i, 0) / (l.s + r.s))
                  AS BIGINT) AS sim_micros
      FROM sz l JOIN sz r
        ON l.doc_id = r.doc_id AND r.blk = l.blk + 1
      LEFT JOIN ij ON ij.doc_id = l.doc_id AND ij.gap = l.blk
    ),
    st AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sim_micros) AS BIGINT) AS s,
             CAST(sum(sim_micros * sim_micros) AS BIGINT) AS q
      FROM gaps GROUP BY 1
    )
    SELECT g.doc_id, g.gap_idx, g.sim_micros,
           CAST(CASE WHEN (st.s - st.n * g.sim_micros) > 0
                      AND 4 * (st.s - st.n * g.sim_micros)
                          * (st.s - st.n * g.sim_micros)
                          > st.n * st.q - st.s * st.s
                THEN 1 ELSE 0 END AS INT) AS is_boundary
    FROM gaps g JOIN st USING (doc_id)
    """,
)
def q261_text_tiling(spark, sf_dir):
    """TextTiling topic segmentation (operators/textstats.py
    text_tiling; Hearst 1997): Dice similarity between adjacent
    8-token blocks, boundary where a gap dips half a stddev below the
    document's mean — Hearst's cutoff restated EXACTLY in integers
    (4*(s - n*sim)^2 > n*q - s^2), so no float stddev and no
    aggregation-order sensitivity anywhere. The segmentation a
    long-document chunker (q116) upgrades to when blind fixed windows
    split topics. Plan: doc-keyed groupBys and block+1 self
    equi-joins only — no window, embarrassingly parallel across
    documents."""
    from ..operators.textstats import text_tiling

    d = _read(spark, sf_dir, "documents")
    return text_tiling(d, block_tokens=8)


# --- wave: section-tree extraction (q262) -------------------------------------


@q(
    "q262_section_tree",
    """
    SELECT doc_id, CAST(1 AS INT) AS block_idx, CAST(1 AS INT) AS depth,
           'Part ' || doc_id AS section_path,
           'intro ' || string_split(text, ' ')[1] AS text
    FROM documents
    UNION ALL
    SELECT doc_id, 3, 2, 'Part ' || doc_id || ' > Sec A', text
    FROM documents
    UNION ALL
    SELECT doc_id, 5, 2, 'Part ' || doc_id || ' > Sec B',
           'tail ' || lang
    FROM documents
    UNION ALL
    SELECT doc_id, 7, 3, 'Part ' || doc_id || ' > Sec B > Deep',
           'leaf ' || source
    FROM documents
    """,
)
def q262_section_tree(spark, sf_dir):
    """Section-tree extraction (operators/sections.py section_tree):
    every content block attributed to its governing heading breadcrumb
    — h2 opens under h1, a sibling h2 REPLACES it, h3 nests below —
    the outline relation the reference's flat '## text' heading lines
    (crawler.py:73-76) only hint at, and the structure section-aware
    chunkers feed RAG/training pipelines. The heading-stack fold runs
    inside the block walker's existing Arrow pass (zero extra parses);
    plan = Scan -> ArrowEvalPython -> Generate -> Project, no shuffle.
    Fixture: h1/h2/h2-sibling/h3 ladder per page; the oracle states
    all four content rows and their paths closed-form — sibling
    replacement and nesting are both load-bearing."""
    from ..operators.sections import section_tree

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><h1>Part "), sid, F.lit("</h1><p>intro "),
        F.split("text", " ")[0],
        F.lit("</p><h2>Sec A</h2><p>"), F.col("text"),
        F.lit("</p><h2>Sec B</h2><p>tail "), F.col("lang"),
        F.lit("</p><h3>Deep</h3><p>leaf "), F.col("source"),
        F.lit("</p></body></html>"),
    )
    pages = d.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return section_tree(pages)



# --- wave: Trojan-Source bidi audit (q301) ------------------------------------


@q(
    "q301_bidi_audit",
    """
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS INT)
             AS n_bidi,
           CAST(CASE WHEN doc_id % 4 = 2 THEN 2 ELSE 0 END AS INT)
             AS n_zero_width,
           CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS INT)
             AS n_other_ctrl,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INT)
             AS clean
    FROM documents
    """,
)
def q301_bidi_audit(spark, sf_dir):
    """Trojan-Source / invisible-character audit (operators/
    textstats.py bidi_invisible_audit; CVE-2021-42574): bidi control
    characters that make code READ differently than it parses,
    zero-width characters that smuggle payloads and split dedup keys,
    stray C0/C1 controls — the ingest gate a code corpus runs before
    training. Fixture quarters: clean / one RLO / two ZWSP / one C0
    control, injected as unicode escapes so neither source file nor
    oracle ever contains the raw bytes. Pure codegen Project."""
    from ..operators.textstats import bidi_invisible_audit

    d = _read(spark, sf_dir, "documents")
    marker = (
        F.when(F.col("doc_id") % 4 == 1, F.lit("\u202e"))
        .when(F.col("doc_id") % 4 == 2, F.lit("\u200b\u200b"))
        .when(F.col("doc_id") % 4 == 3, F.lit("\u0001"))
        .otherwise(F.lit(""))
    )
    return bidi_invisible_audit(
        d.select("doc_id", F.concat("text", marker).alias("text"))
    )


# --- wave: html lang attribute consistency (q302) -----------------------------


@q(
    "q302_lang_attr_consistency",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 'fr-ca'
                WHEN doc_id % 7 = 0 THEN ''
                ELSE lang || '-gb' END AS lang_attr,
           CASE WHEN doc_id % 5 = 0 THEN 'fr'
                WHEN doc_id % 7 = 0 THEN ''
                ELSE lang END AS lang_primary,
           lang AS lang_declared,
           CAST(CASE WHEN doc_id % 5 = 0
                       THEN CASE WHEN lang = 'fr' THEN 1 ELSE 0 END
                     WHEN doc_id % 7 = 0 THEN 0
                     ELSE 1 END AS INT) AS attr_matches_declared
    FROM documents
    """,
)
def q302_lang_attr_consistency(spark, sf_dir):
    """<html lang> attribute vs fetch-layer language label
    (operators/meta.py html_lang_attr): the third vertex of the
    language triangle — q197 audits declared-vs-detected, this audits
    DECLARED-vs-ATTRIBUTE, with region subtags stripped (en-GB → en)
    because routing keys on the primary tag. Fixture: every 5th page
    declares fr-CA against a non-fr label (mismatch), every 7th omits
    the attribute (no verdict), the rest carry region-tagged
    agreeing attributes. Codegen regexp on the root element only."""
    from ..operators.meta import html_lang_attr

    d = _read(spark, sf_dir, "documents")
    attr = F.when(F.col("doc_id") % 5 == 0, F.lit("fr-CA")) \
        .when(F.col("doc_id") % 7 == 0, F.lit(None)) \
        .otherwise(F.concat(F.col("lang"), F.lit("-GB")))
    html = F.concat(
        F.lit("<html"),
        F.when(attr.isNotNull(),
               F.concat(F.lit(' lang="'), attr, F.lit('"')))
        .otherwise(F.lit("")),
        F.lit("><body>x</body></html>"),
    )
    out = html_lang_attr(d.select("doc_id", html.alias("html"))).join(
        d.select("doc_id", F.col("lang").alias("lang_declared")),
        "doc_id",
    )
    return out.select(
        "doc_id", "lang_attr", "lang_primary", "lang_declared",
        F.when(
            (F.col("lang_primary") != "")
            & (F.col("lang_primary") == F.col("lang_declared")), 1
        ).otherwise(0).cast("int").alias("attr_matches_declared"),
    )


# --- wave: sentence segmentation + quotation mining (q310-q311) ---------------


@q(
    "q310_sentence_spans",
    """
    SELECT doc_id, 1 AS sent_idx,
           'Alpha ' || CAST(doc_id AS VARCHAR) || '.' AS sentence,
           CAST(7 + length(CAST(doc_id AS VARCHAR)) AS INT) AS n_chars
    FROM documents
    UNION ALL
    SELECT doc_id, 2, 'Beta two!!', 10 FROM documents
    UNION ALL
    SELECT doc_id, 3, 'Gamma three?', 12 FROM documents
    UNION ALL
    SELECT doc_id, 4, 'tail ' || CAST(doc_id AS VARCHAR),
           CAST(5 + length(CAST(doc_id AS VARCHAR)) AS INT)
    FROM documents
    """,
)
def q310_sentence_spans(spark, sf_dir):
    """Deterministic sentence segmentation (operators/textstats.py
    sentence_spans): terminal-punctuation-run boundaries, document
    order preserved, trailing unterminated fragment kept as the final
    sentence. The shared unit under chunking, bitext alignment,
    sentence-level dedup and mean-sentence-length quality gates — the
    fixture exercises single and doubled punctuation, '?' boundaries
    and the tail fragment, and the oracle states every row closed-
    form. Marker-insert + split + posexplode: per-row codegen, zero
    shuffle."""
    from ..operators.textstats import sentence_spans

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("Alpha "), sid, F.lit(". Beta two!! Gamma three? tail "), sid
    )
    return sentence_spans(d.select("doc_id", text.alias("text")))


@q(
    "q311_shared_quotes",
    """
    SELECT 'unique insight number ' || CAST(doc_id AS VARCHAR)
             || ' from doc' AS quote,
           md5('unique insight number ' || CAST(doc_id AS VARCHAR)
             || ' from doc') AS quote_md5,
           CAST(1 AS BIGINT) AS n_docs,
           CAST(1 AS BIGINT) AS n_occurrences,
           doc_id AS sample_doc_id
    FROM documents
    UNION ALL
    SELECT 'the shared syndicated press release line',
           md5('the shared syndicated press release line'),
           (SELECT count(*) FROM documents WHERE doc_id % 5 = 0),
           (SELECT count(*) FROM documents WHERE doc_id % 5 = 0),
           CAST(0 AS BIGINT)
    """,
)
def q311_shared_quotes(spark, sf_dir):
    """Cross-document quotation mining (operators/dedup.py
    shared_quotes): quoted spans ≥20 chars rolled up by quote —
    syndication/boilerplate detection at SPAN level, invisible to the
    document/paragraph dedup passes. Fixture: every doc carries one
    unique straight-quoted span; every 5th doc also carries one
    CURLY-quoted syndicated line, whose rollup row (n_docs = corpus
    count of that stratum, sample = min id) the oracle states closed-
    form. One map-combined groupBy on the quote key; md5 column is
    the at-scale join key."""
    from ..operators.dedup import shared_quotes

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit('He said "unique insight number '), sid,
        F.lit(' from doc" and '),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("also “the shared syndicated press release line” end"),
        ).otherwise(F.lit("nothing more")),
    )
    return shared_quotes(d.select("doc_id", text.alias("text")))


# --- wave: paragraph-level language segmentation (q312) -----------------------


@q(
    "q312_paragraph_langs",
    """
    SELECT doc_id,
      CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 2 ELSE 1 END
        AS n_paragraphs,
      CASE doc_id % 4 WHEN 0 THEN 2 WHEN 3 THEN 0 ELSE 1 END AS n_langs,
      CASE doc_id % 4 WHEN 3 THEN 'none' ELSE 'en' END AS dominant_lang,
      CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 1
        ELSE 0 END AS n_dominant_paras,
      CASE doc_id % 4 WHEN 0 THEN 1 ELSE 0 END AS is_mixed
    FROM documents
    """,
)
def q312_paragraph_langs(spark, sf_dir):
    """Paragraph-level language segmentation (operators/textstats.py
    paragraph_langs): per-paragraph marker argmax, per-document
    mixed-language flagging — the CCNet/FineWeb-style sub-document
    granularity that catches half-translated pages document-level ID
    (q25) hides. Fixture strata: EN+ES mixed doc (dominant tie broken
    by code ascending), uniform 2-paragraph EN doc, single-paragraph
    EN doc, and a no-marker doc resolving to 'none'/0 langs. Two
    map-combined groupBys + min(struct) dominant pick; no windows."""
    from ..operators.textstats import paragraph_langs

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    text = (
        F.when(m == 0,
               F.lit("the cat is this fine\n\nlos gatos las casas una"))
        .when(m == 1,
              F.lit("the first is here\n\nthe second and third of them"))
        .when(m == 2, F.lit("the only paragraph of note"))
        .otherwise(F.lit("zzz qqq xylophone"))
    )
    return paragraph_langs(d.select("doc_id", text.alias("text")))


# --- wave: article completeness + sentence-level dedup (q323-q324) ------------


@q(
    "q323_article_completeness",
    """
    SELECT doc_id,
      CASE doc_id % 4 WHEN 3 THEN 0 ELSE 1 END AS has_title,
      CASE WHEN doc_id % 4 IN (0, 2) THEN 1 ELSE 0 END AS has_date,
      CASE WHEN doc_id % 4 IN (0, 1) THEN 1 ELSE 0 END AS has_author,
      CASE doc_id % 4 WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 2
        ELSE 0 END AS completeness
    FROM documents
    """,
)
def q323_article_completeness(spark, sf_dir):
    """Article-metadata completeness card (operators/meta.py
    article_completeness): title/date/author presence unified across
    every structured-data channel the engine extracts — og/meta
    (q268), JSON-LD (q269), microdata (q308), the publish-date
    ladder incl. URL permalinks (q309). Fixture strata: fully-bylined
    article (3/3), titled page with a microdata author but no date,
    og-titled page dated only by its /YYYY/MM/ permalink, and a bare
    shell (0/3). Codegen probes on one row; no shuffle."""
    from ..operators.meta import article_completeness

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    html = (
        F.when(m == 0, F.lit(
            '<html><head><meta property="og:title" content="T">'
            '<meta property="article:published_time" '
            'content="2024-01-03T00:00:00Z">'
            '<meta name="author" content="A"></head>'
            "<body>x</body></html>"))
        .when(m == 1, F.lit(
            "<html><head><title>Doc</title></head><body>"
            '<span itemprop="author">B</span></body></html>'))
        .when(m == 2, F.lit(
            '<html><head><meta property="og:title" content="T2">'
            "</head><body>y</body></html>"))
        .otherwise(F.lit("<html><body>shell</body></html>"))
    )
    url = F.when(
        m == 2, F.concat(F.lit("https://a.example.com/2022/05/p-"), sid)
    ).otherwise(F.concat(F.lit("https://a.example.com/p/"), sid))
    return article_completeness(
        d.select("doc_id", url.alias("url"), html.alias("html"))
    )


@q(
    "q333_articlebody_crosscheck",
    """
    SELECT doc_id,
      CASE doc_id % 3 WHEN 1 THEN 0 ELSE 1 END AS has_articlebody,
      CASE doc_id % 3
        WHEN 0 THEN CAST(length(
          'full article body text with every sentence present here')
          AS INT)
        WHEN 2 THEN CAST(length('teaser only') AS INT)
        ELSE NULL END AS body_len,
      CASE doc_id % 3
        WHEN 0 THEN CAST(length('full article body text') AS INT)
        WHEN 1 THEN CAST(length('standalone extracted text') AS INT)
        ELSE CAST(length(
          'teaser only plus navigation junk appended') AS INT)
      END AS extracted_len,
      CASE doc_id % 3
        WHEN 0 THEN CAST(1000000 * length('full article body text')
          // length(
          'full article body text with every sentence present here')
          AS BIGINT)
        WHEN 2 THEN CAST(1000000 *
          length('teaser only plus navigation junk appended')
          // length('teaser only') AS BIGINT)
        ELSE NULL END AS len_ratio_micros
    FROM documents
    """,
)
def q333_articlebody_crosscheck(spark, sf_dir):
    """JSON-LD articleBody extraction cross-check (operators/meta.py
    jsonld_article_body): publishers who embed the full article text
    in NewsArticle markup supply a per-page reference for the DOM
    extractor — ratio ≪ 1 means over-stripping, ratio ≫ 1 means the
    markup serves a teaser (paywall stub, composing with q332). The
    fixture covers both directions plus the no-markup NULL row, and
    the oracle states lengths/ratios via length() of the same
    literals — no magic numbers. Codegen regexp pull + exact integer
    division."""
    from ..operators.meta import jsonld_article_body

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    body = (
        F.when(m == 0, F.lit(
            "full article body text with every sentence present here"))
        .when(m == 2, F.lit("teaser only"))
    )
    html = F.when(
        m != 1,
        F.concat(
            F.lit('<script type="application/ld+json">'
                  '{"@type":"NewsArticle","articleBody":"'),
            body, F.lit('"}</script>'),
        ),
    ).otherwise(F.lit("<html><body>no jsonld</body></html>"))
    text = (
        F.when(m == 0, F.lit("full article body text"))
        .when(m == 1, F.lit("standalone extracted text"))
        .otherwise(F.lit("teaser only plus navigation junk appended"))
    )
    return jsonld_article_body(
        d.select("doc_id", html.alias("html"), text.alias("text"))
    )


# --- wave: NFKC compatibility normalization (q337) ----------------------------


@q(
    "q337_nfkc_normalize",
    """
    SELECT doc_id,
      CASE doc_id % 4
        WHEN 0 THEN 'file A42'
        WHEN 1 THEN '1⁄2 x2 VIII'
        WHEN 2 THEN 'café'
        ELSE 'plain ascii'
      END AS nfkc_text,
      CASE doc_id % 4 WHEN 3 THEN 0 ELSE 1 END AS nfkc_changed
    FROM documents
    """,
)
def q337_nfkc_normalize(spark, sf_dir):
    """Unicode NFKC compatibility normalization (functions/
    normalize.py with_nfkc_text): ligatures decompose, fullwidth
    forms fold, fractions/superscripts/roman numerals reduce — the
    tokenizer-facing variant (HF tokenizer pipelines default to
    NFKC) next to q101's canonical-only NFC, which keeps dedup keys
    lossless. Fixture strata: ligature+fullwidth, numeric compat
    forms (½ → 1⁄2 with U+2044), a decomposed e+COMBINING ACUTE that
    NFKC also canonically folds, and unchanged ASCII; outputs stated
    as literals (stdlib unicodedata tables ARE the spec). Arrow-
    batched, zero shuffle."""
    from ..functions.normalize import with_nfkc_text

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    text = (
        F.when(m == 0, F.lit("ﬁle Ａ４２"))
        .when(m == 1, F.lit("½ x² Ⅷ"))
        .when(m == 2, F.lit("cafe\u0301"))  # decomposed e+COMBINING ACUTE
        .otherwise(F.lit("plain ascii"))
    )
    return with_nfkc_text(d.select("doc_id", text.alias("text"))).select(
        "doc_id", "nfkc_text",
        F.col("nfkc_changed").cast("int").alias("nfkc_changed"),
    )


# --- wave: de-hyphenation repair (q338) ---------------------------------------


@q(
    "q338_dehyphenate",
    """
    SELECT doc_id,
      CASE doc_id % 3
        WHEN 0 THEN 'the extraction of data'
        WHEN 1 THEN 'state-of-the-art systems work'
        ELSE 'plain single line'
      END AS repaired
    FROM documents
    """,
)
def q338_dehyphenate(spark, sf_dir):
    """Line-break de-hyphenation for extracted PDF/columnar text
    (functions/normalize.py dehyphenate_col — the pdfminer/Grobid
    postprocessing convention): hyphen+newline between lowercase
    letters joins the word, remaining newlines become soft-wrap
    spaces, mid-line hyphens (state-of-the-art) are untouched.
    Skipping this splits every column-edge word into two junk tokens
    and corrupts TF/LM/dedup downstream of the q93 layout parse.
    Fixture: a hyphen-broken word across a wrapped line, a compound
    that must survive, a line-break-free control; outputs closed-
    form. Three codegen regexp ops."""
    from ..functions.normalize import dehyphenate_col

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    text = (
        F.when(m == 0, F.lit("the extrac-\n  tion of\ndata"))
        .when(m == 1, F.lit("state-of-the-art systems\nwork"))
        .otherwise(F.lit("plain single line"))
    )
    return d.select(
        "doc_id",
        dehyphenate_col(text).alias("repaired"),
    )


# --- wave: chunk-stitch roundtrip integrity (q339) ----------------------------


@q(
    "q339_chunk_stitch",
    """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '),
                             w -> length(w) > 0)) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(1 + ceil(greatest(n - 8, 0) / 6.0) AS INT) AS n_chunks,
           0 AS n_overlap_mismatches,
           1 AS roundtrip_ok
    FROM t WHERE n > 0
    """,
)
def q339_chunk_stitch(spark, sf_dir):
    """Chunk-stitch ROUNDTRIP integrity (operators/chunking.py
    stitch_chunks — the inverse of q116's chunk_documents):
    reassemble every real document from its overlapping (8,6)
    token windows, verify each overlap equals the previous chunk's
    tail, and check stitched ≡ the whitespace-normalized original.
    The auditability contract for windowed pipelines (RAG stores,
    sliding-window scoring): the oracle states chunk counts from the
    token-count formula and asserts zero mismatches and a perfect
    roundtrip over the REAL corpus text at any SF. One bounded
    groupBy(doc) + a codegen aggregate fold — no windows, no
    Python."""
    from ..operators.chunking import chunk_documents, stitch_chunks

    d = _read(spark, sf_dir, "documents")
    ch = chunk_documents(d, chunk=8, stride=6)
    st = stitch_chunks(ch, chunk=8, stride=6)
    norm = d.select(
        "doc_id",
        F.array_join(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0),
            " ",
        ).alias("_norm"),
    )
    return st.join(norm, "doc_id").select(
        "doc_id", "n_chunks", "n_overlap_mismatches",
        F.when(F.col("stitched_text") == F.col("_norm"), 1).otherwise(0)
        .cast("int").alias("roundtrip_ok"),
    )


# --- wave: semantic regions + hidden text (q348-q349) -------------------------


@q(
    "q348_semantic_census",
    """
    SELECT doc_id,
      CASE doc_id % 4 WHEN 0 THEN 1 ELSE 0 END AS has_main,
      CASE WHEN doc_id % 4 IN (1, 2) THEN 1 ELSE 0 END AS has_article,
      CASE doc_id % 4 WHEN 1 THEN 3 WHEN 2 THEN 1 ELSE 0 END
        AS n_articles,
      CASE doc_id % 4 WHEN 0 THEN 1 ELSE 0 END AS has_nav,
      CASE doc_id % 4 WHEN 2 THEN 1 ELSE 0 END AS has_aside,
      CASE doc_id % 4 WHEN 3 THEN 1 ELSE 0 END AS has_header,
      CASE doc_id % 4 WHEN 2 THEN 1 ELSE 0 END AS has_footer,
      CASE doc_id % 4 WHEN 0 THEN 'anchored' WHEN 1 THEN 'feed'
        WHEN 2 THEN 'anchored' ELSE 'heuristic' END AS extraction_tier
    FROM documents
    """,
)
def q348_semantic_census(spark, sf_dir):
    """HTML5 semantic-region census and extraction-strategy routing
    (operators/meta.py semantic_region_census): <main>/single-
    <article> pages are 'anchored' (take the subtree, skip scoring),
    multi-article pages are 'feed' (listing — per-article units),
    div-soup is 'heuristic' (q44/q87's full boilerplate scoring).
    Routing by markup tier is how production pipelines confine the
    expensive scoring path to pages that need it. Fixture: all four
    tiers with region flags stated closed-form."""
    from ..operators.meta import semantic_region_census

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    html = (
        F.when(m == 0, F.lit(
            "<body><nav>menu</nav><main><p>prose</p></main></body>"))
        .when(m == 1, F.lit(
            "<body><article>a</article><article>b</article>"
            "<article>c</article></body>"))
        .when(m == 2, F.lit(
            "<body><article>solo</article><aside>ads</aside>"
            "<footer>f</footer></body>"))
        .otherwise(F.lit(
            '<body><header>h</header><div class="content">soup'
            "</div></body>"))
    )
    return semantic_region_census(d.select("doc_id", html.alias("html")))


@q(
    "q349_hidden_text",
    """
    SELECT doc_id,
      CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END
        AS n_hidden_elements,
      CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 249 ELSE 0 END
        AS n_hidden_chars,
      CASE doc_id % 3 WHEN 1 THEN 1 ELSE 0 END AS cloaking_suspect
    FROM documents
    """,
)
def q349_hidden_text(spark, sf_dir):
    """Hidden-text audit (operators/meta.py hidden_text_audit):
    inline display:none / visibility:hidden / font-size:0 elements
    and their immediate text — the extraction-correctness signal
    (renderers hide what extractors keep) and the classic SEO
    cloaking detector (≥200 invisible chars). Fixture: a two-element
    hidden pair (display + visibility channels, 24 trimmed chars), a
    keyword-stuffed 249-char invisible div tripping the suspect
    flag, and a clean page; counts closed-form. Codegen regexp +
    aggregate length fold."""
    from ..operators.meta import hidden_text_audit

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    html = (
        F.when(m == 0, F.lit(
            '<div style="display:none">hidden keywords here</div>'
            '<span style="visibility:hidden">more</span>'))
        .when(m == 1, F.lit(
            '<div style="font-size:0;color:red">' + "spam " * 50
            + "</div>"))
        .otherwise(F.lit('<div style="color:blue">visible text</div>'))
    )
    return hidden_text_audit(d.select("doc_id", html.alias("html")))
