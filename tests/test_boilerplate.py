"""Block segmentation (htmlx/blocks.py) and boilerplate classification
(operators/boilerplate.py)."""

from pyspark.sql import Row, functions as F

from tribeca_insights_spark.htmlx.blocks import segment_blocks
from tribeca_insights_spark.operators.boilerplate import (
    boilerplate_stats,
    exploded_blocks,
    main_content,
)

PAGE = (
    "<html><head><title>Doc 7</title></head><body>"
    "<header>site header</header>"
    '<nav><a href="/a">nav one</a> <a href="/b">nav two</a></nav>'
    "<h1>Heading 7</h1>"
    "<p>alpha beta gamma delta epsilon</p>"
    '<a href="/about">about</a>'
    "<footer>footer</footer></body></html>"
)


def test_segment_blocks_shape():
    blocks = [(b.tag, b.text, b.n_words, b.n_link_words, b.is_heading)
              for b in segment_blocks(PAGE)]
    assert blocks == [
        ("body", "Doc 7", 2, 0, False),
        ("header", "site header", 2, 0, False),
        ("nav", "nav one nav two", 4, 4, False),
        ("h1", "Heading 7", 2, 0, True),
        ("p", "alpha beta gamma delta epsilon", 5, 0, False),
        ("body", "about", 1, 1, False),
        ("footer", "footer", 1, 0, False),
    ]
    assert [b.idx for b in segment_blocks(PAGE)] == list(range(7))


def test_segment_blocks_keeps_chrome_subtrees():
    # unlike extract_visible_text (which decomposes header/footer/nav),
    # segmentation must SEE those blocks to classify them
    tags = {b.tag for b in segment_blocks(PAGE)}
    assert {"header", "nav", "footer"} <= tags


def test_segment_blocks_edges():
    assert segment_blocks(None) == []
    assert segment_blocks("") == []
    assert segment_blocks("<script>var x='<div>hi</div>';</script>") == []
    # nested block elements: inner starts its own block
    [a, b] = segment_blocks("<div>outer <p>inner para</p></div>")
    assert (a.tag, a.text) == ("div", "outer")
    assert (b.tag, b.text) == ("p", "inner para")
    # text after the inner block returns to the enclosing block context
    [x, y, z] = segment_blocks("<div>one <p>two</p> three</div>")
    assert (z.tag, z.text) == ("div", "three")
    # broken markup never raises
    assert segment_blocks("<div><a href=") is not None
    # link depth: stray </a> does not go negative
    [only] = segment_blocks("</a><p>plain words here</p>")
    assert only.n_link_words == 0


def test_segment_blocks_rawtext_and_entities():
    [b] = segment_blocks("<p>a &amp; b</p><style>p{color:red}</style>")
    assert b.text == "a & b"
    assert b.n_words == 3


def test_main_content_rule(spark):
    docs = spark.createDataFrame([Row(doc_id=7, html=PAGE)])
    row = main_content(docs).collect()[0]
    # h1 (heading exemption) + p (5 words) are content; title/header short,
    # nav/about link-dense, footer short
    assert row.main_text == "Heading 7 alpha beta gamma delta epsilon"
    assert row.n_blocks == 7
    assert row.n_content_blocks == 2


def test_main_content_min_words(spark):
    docs = spark.createDataFrame([Row(doc_id=1, html=PAGE)])
    row = main_content(docs, min_words=6).collect()[0]
    # p (5 words) now fails the length gate; only the heading survives
    assert row.main_text == "Heading 7"
    assert row.n_content_blocks == 1


def test_boilerplate_stats_accounting(spark):
    docs = spark.createDataFrame([Row(doc_id=7, html=PAGE)])
    row = boilerplate_stats(docs).collect()[0]
    assert row.n_words_total == 17
    assert row.n_words_boiler == 10  # all but h1 (2) + p (5)
    assert abs(row.boiler_word_ratio - round(10 / 17, 4)) < 1e-9


def test_exploded_blocks(spark):
    docs = spark.createDataFrame([Row(url="u", html=PAGE)])
    rows = exploded_blocks(docs).orderBy("idx").collect()
    assert [r.tag for r in rows] == [
        "body", "header", "nav", "h1", "p", "body", "footer"
    ]
    assert rows[2].n_link_words == 4


def test_binary_html_decodes(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, html=bytearray(PAGE.encode("utf-8")))]
    )
    row = main_content(docs).collect()[0]
    assert row.n_blocks == 7


# --- source spans ------------------------------------------------------------


def test_span_walker_exact_offsets():
    from tribeca_insights_spark.htmlx.blocks import (
        segment_blocks,
        segment_blocks_with_spans,
    )

    html = (
        "<html><body><h1>Heading X</h1><p>  padded text here  </p>"
        "<div>one &amp; two\n  second line  </div>"
        "<script>var x = 'invisible';</script>"
        "<a href='/a'>about</a><a href='/b'>ext</a>"
        "<footer>footer</footer></body></html>"
    )
    pairs = segment_blocks_with_spans(html)
    # block stream identical to the span-free walker
    assert [b.text for b, _ in pairs] == [
        b.text for b in segment_blocks(html)
    ]
    by_tag = {b.tag: (b, s) for b, s in pairs}
    h1, (s, e) = by_tag["h1"]
    assert html[s:e] == "Heading X"
    p, (s, e) = by_tag["p"]
    assert html[s:e] == "padded text here"  # whitespace trimmed both ends
    d, (s, e) = by_tag["div"]
    # raw slice keeps the charref and internal whitespace; visible text
    # is the interpolated, stripped form
    assert html[s:e] == "one &amp; two\n  second line"
    assert d.text == "one & two\n  second line"
    body, (s, e) = by_tag["body"]  # the two inline links form one block
    assert html[s:e].startswith("about") and html[s:e].endswith("ext")


def test_span_walker_tolerates_broken_and_empty():
    from tribeca_insights_spark.htmlx.blocks import (
        segment_blocks_with_spans,
    )

    assert segment_blocks_with_spans("") == []
    assert segment_blocks_with_spans(None) == []
    # unclosed tags and a bogus-markup tail: html.parser folds the broken
    # tail into character data; the span must still cover exactly what the
    # block reports as text (same recovery the span-free walker makes)
    html = "<p>kept text<div <<< busted"
    pairs = segment_blocks_with_spans(html)
    assert len(pairs) == 1
    b, (s, e) = pairs[0]
    assert b.text == "kept text<div <<< busted"
    assert html[s:e] == b.text
    # unterminated entity in the last data run, flushed by close()
    html2 = "<p>alpha &amp beta"
    pairs2 = segment_blocks_with_spans(html2)
    b2, (s2, e2) = pairs2[0]
    assert b2.text == "alpha & beta"  # interpolated visible text
    assert html2[s2:e2] == "alpha &amp beta"  # raw source span


def test_content_spans_operator(spark):
    import pyspark.sql.functions as F

    from tribeca_insights_spark.operators.boilerplate import content_spans

    html = (
        "<html><body><nav><a href='/x'>n1</a> <a href='/y'>n2</a></nav>"
        "<h1>Title Here</h1><p>real content with five words</p>"
        "</body></html>"
    )
    df = spark.createDataFrame(
        [(1, bytearray(html.encode()))], "doc_id int, html binary"
    )
    rows = {r.tag: r for r in content_spans(df).collect()}
    assert set(rows) == {"h1", "p"}  # nav is link-dense boilerplate
    assert rows["h1"].span_text == "Title Here"
    assert rows["p"].span_text == "real content with five words"
    assert html[rows["p"].span_start : rows["p"].span_end] == (
        "real content with five words"
    )


def test_content_spans_honors_declared_charset(spark):
    # ADVICE r3: the span walker must decode with the per-page charset
    # column like extract_pages does, and span_text must be cut from the
    # walker's own decoded string
    from tribeca_insights_spark.operators.boilerplate import content_spans

    text = "café crème très bon ici"
    html = f"<html><body><p>{text}</p></body></html>".encode("latin-1")
    df = spark.createDataFrame(
        [(1, bytearray(html), "iso-8859-1")],
        "doc_id int, html binary, charset string",
    )
    rows = content_spans(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.span_text == text
    # offsets address the latin-1-decoded page, not a UTF-8 misdecode
    assert html.decode("iso-8859-1")[r.span_start:r.span_end] == text


def test_content_spans_malformed_bytes_offsets_consistent(spark):
    # a lone invalid UTF-8 byte decodes to U+FFFD; offsets and the cut
    # text must agree because both come from the same decoded string
    from tribeca_insights_spark.operators.boilerplate import content_spans
    from tribeca_insights_spark.operators.extract import _decode

    html = (
        b"<html><body><p>bad \xff byte here with words</p></body></html>"
    )
    df = spark.createDataFrame(
        [(1, bytearray(html))], "doc_id int, html binary"
    )
    rows = content_spans(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert "�" in r.span_text
    page = _decode(html)
    assert page[r.span_start:r.span_end] == r.span_text


# --- site-level template detection -------------------------------------------


def test_template_blocks_host_frequency(spark):
    from tribeca_insights_spark.operators.boilerplate import template_blocks

    def page(host, i, body):
        h = (
            f"<html><body><header>Site {host}</header>"
            f"<p>{body}</p><footer>contact legal jobs</footer>"
            "</body></html>"
        )
        return (host, f"https://{host}/p{i}", bytearray(h.encode()))

    rows = [
        page("a.com", 0, "unique alpha"),
        page("a.com", 1, "unique bravo"),
        page("a.com", 2, "unique charlie"),
        page("b.com", 0, "only page"),
    ]
    df = spark.createDataFrame(rows, "host string, url string, html binary")
    out = template_blocks(df).collect()
    got = {(r.host, r.block_text): r for r in out}
    # a.com: header + footer on 3/3 pages; bodies 1/3 (below 0.5) absent
    assert ("a.com", "Site a.com") in got
    assert ("a.com", "contact legal jobs") in got
    assert not any(h == "a.com" and "unique" in t for h, t in got)
    a = got[("a.com", "Site a.com")]
    assert a.n_pages_with_block == 3 and a.n_pages == 3
    assert a.frac_pages == 1.0
    # b.com has one page: everything on it is "template" by frequency —
    # the operator reports what the metric says; callers gate on n_pages
    assert got[("b.com", "only page")].n_pages == 1


def test_template_blocks_threshold_boundary(spark):
    from tribeca_insights_spark.operators.boilerplate import template_blocks

    # block on exactly 1 of 2 pages: 0.5 boundary must be INCLUSIVE via
    # integer-micros compare (1 * 1e6 >= 5e5 * 2)
    rows = [
        ("h", "u1", bytearray(b"<p>half</p><p>both</p>")),
        ("h", "u2", bytearray(b"<p>both</p>")),
    ]
    df = spark.createDataFrame(rows, "host string, url string, html binary")
    texts = {r.block_text for r in template_blocks(df).collect()}
    assert texts == {"half", "both"}
    strict = {
        r.block_text
        for r in template_blocks(df, min_frac_micros=600_000).collect()
    }
    assert strict == {"both"}


def test_main_content_site_aware_two_tiers(spark):
    from tribeca_insights_spark.operators.boilerplate import (
        main_content,
        main_content_site_aware,
    )

    def page(host, i, body):
        h = (
            f"<html><body><h1>Title {host} {i}</h1>"
            "<p>quality widgets since 1999</p>"  # link-light 4-word chrome
            f"<p>{body}</p></body></html>"
        )
        return (host, f"https://{host}/p{i}", bytearray(h.encode()))

    rows = [
        page("a.com", 0, "alpha unique body text"),
        page("a.com", 1, "bravo unique body text two"),
        page("a.com", 2, "charlie unique body text three"),
    ]
    df = spark.createDataFrame(rows, "host string, url string, html binary")
    # tier 1 alone (per-page rule) keeps the tagline: it is link-free and
    # long enough — exactly the false positive tier 2 exists for
    naive = main_content(df).orderBy("url").first()
    assert "quality widgets since 1999" in naive.main_text
    out = {r.url: r for r in main_content_site_aware(df).collect()}
    r0 = out["https://a.com/p0"]
    assert r0.main_text == "Title a.com 0 alpha unique body text"
    assert r0.n_content_blocks == 2  # h1 + body; tagline subtracted
    # h1 texts are unique per page -> never template, always kept
    assert all("Title a.com" in r.main_text for r in out.values())
    assert all(
        "quality widgets" not in r.main_text for r in out.values()
    )


def test_main_content_site_aware_small_host_guard(spark):
    # ADVICE r3: template removal needs repetition evidence — a block on
    # a 1-page host (frac 100%) or a unique block on a 2-page host
    # (inclusive 1/2 boundary) must NOT be subtracted
    from tribeca_insights_spark.operators.boilerplate import (
        main_content_site_aware,
    )

    def page(host, i, body):
        h = (
            f"<html><body><h1>Title {host} {i}</h1>"
            f"<p>{body}</p></body></html>"
        )
        return (host, f"https://{host}/p{i}", bytearray(h.encode()))

    rows = [
        page("solo.com", 0, "only page body text here"),
        page("duo.com", 0, "first page unique body text"),
        page("duo.com", 1, "second page different body text"),
        page("duo2.com", 0, "shared footer line words"),
        page("duo2.com", 1, "shared footer line words"),
    ]
    df = spark.createDataFrame(rows, "host string, url string, html binary")
    out = {r.url: r for r in main_content_site_aware(df).collect()}
    # 1-page host keeps everything the per-page rule keeps
    assert out["https://solo.com/p0"].main_text == (
        "Title solo.com 0 only page body text here"
    )
    # unique blocks on a 2-page host survive the 1/2 boundary
    assert "first page unique body text" in out["https://duo.com/p0"].main_text
    assert "second page different body text" in out["https://duo.com/p1"].main_text
    # but a block repeated on BOTH pages of a 2-page host is template
    assert "shared footer line" not in out["https://duo2.com/p0"].main_text
    assert "Title duo2.com 0" in out["https://duo2.com/p0"].main_text


def test_tag_sequence_walker_pure(spark):
    """The signature is the start-tag stream only: text, attrs, end
    tags, comments and case must not affect it; void and self-closing
    elements count."""
    from tribeca_insights_spark.operators.boilerplate import (
        layout_fingerprint,
    )

    a = '<DIV class="x"><P>hello</P><BR><img src="i.png"/></DIV>'
    b = "<div><p>totally different words</p><br><img src='j.jpg'></div>"
    c = "<div><p>x</p></div>"  # no br/img: different skeleton
    docs = spark.createDataFrame(
        list(enumerate([a.encode(), b.encode(), c.encode(), b"", None])),
        "doc_id int, html binary",
    )
    sigs = [r.layout_sig for r in
            layout_fingerprint(docs).orderBy("doc_id").collect()]
    assert sigs[0] == sigs[1] == "div>p>br>img"
    assert sigs[2] == "div>p"
    assert sigs[3] == "" and sigs[4] == ""


def test_layout_fingerprint_and_clusters(spark):
    """Two templates → two clusters; hash is md5 of the sig's UTF-8
    bytes; empty page gets n_tags 0 (not 1)."""
    import hashlib

    from pyspark.sql import Row

    from tribeca_insights_spark.operators.boilerplate import (
        layout_clusters,
        layout_fingerprint,
    )

    t1 = b"<html><body><p>one</p></body></html>"
    t2 = b"<html><body><p>two words here</p></body></html>"
    t3 = b"<html><body><table><tr><td>x</td></tr></table></body></html>"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, html=t1),
            Row(doc_id=2, html=t2),
            Row(doc_id=3, html=t3),
            Row(doc_id=4, html=b""),
        ]
    )
    fp = {r["doc_id"]: r for r in layout_fingerprint(docs).collect()}
    assert fp[1]["layout_sig"] == fp[2]["layout_sig"] == "html>body>p"
    assert fp[1]["n_tags"] == 3 and fp[4]["n_tags"] == 0
    assert (
        fp[1]["layout_hash"]
        == hashlib.md5(b"html>body>p").hexdigest()
    )
    cl = {
        r["layout_hash"]: (r["n_pages"], r["n_tags"], r["min_id"])
        for r in layout_clusters(docs).collect()
    }
    assert cl[fp[1]["layout_hash"]] == (2, 3, 1)
    assert cl[fp[3]["layout_hash"]] == (1, 5, 3)
    assert cl[fp[4]["layout_hash"]] == (1, 0, 4)


def test_layout_fingerprint_plan_no_shuffle(spark):
    """The fingerprint stage must stay Scan → ArrowEvalPython → Project
    (the extraction discipline): no Exchange in the per-page plan."""
    from pyspark.sql import Row

    from tribeca_insights_spark.operators.boilerplate import (
        layout_fingerprint,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, html=b"<html><body><p>x</p></body></html>")]
    )
    plan = layout_fingerprint(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
