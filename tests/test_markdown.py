"""HTML → Markdown conversion (htmlx/markdown.py + operator)."""

from tribeca_insights_spark.htmlx.markdown import html_to_markdown as md
from tribeca_insights_spark.operators.markdown import pages_to_markdown


def test_headings_paragraphs_links_images():
    html = (
        "<html><head><title>skip me</title></head><body>"
        "<h1>Top</h1><p>one two</p>"
        '<a href="/a">about</a><img src="/i.png" alt="pic">'
        "<h3>Sub</h3><div>tail</div></body></html>"
    )
    assert md(html) == (
        "# Top\n\none two\n\n[about](/a) ![pic](/i.png)\n\n### Sub\n\ntail"
    )


def test_lists_ordered_nested_and_quotes():
    html = (
        "<ol><li>one</li><li>two</li></ol>"
        "<ul><li>bullet</li></ul>"
        "<blockquote><p>wise words</p></blockquote>"
    )
    assert md(html) == (
        "1. one\n\n2. two\n\n- bullet\n\n> wise words"
    )
    # nested <ol> restarts its counter; outer continues after
    nested = "<ol><li>a</li><li><ol><li>x</li></ol></li><li>b</li></ol>"
    out = md(nested)
    assert "1. a" in out and "1. x" in out and "3. b" in out


def test_anchor_edge_cases():
    # no href -> plain text; unclosed anchor flushed at block boundary;
    # nested markup inside the anchor flattens
    assert md("<p><a>naked</a> after</p>") == "naked after"
    assert md("<p><a href='/x'>t<b>bold</b></a></p>") == "[t bold](/x)"
    assert md("<p><a href='/x'>open<p>next para</p>") == (
        "[open](/x)\n\nnext para"
    )


def test_drops_and_tolerance():
    assert md("<p>a<script>junk()</script>b</p>") == "a b"
    assert md("") == ""
    assert md(None) == ""
    assert md("<p>ok<div <<< busted") != ""  # never raises


def test_unclosed_head_keeps_body():
    """A never-closed <head> holds the body in bs4's html.parser tree:
    the body's content survives the head drop, the title still goes."""
    assert md(
        "<html><head><title>T</title><body><p>text here</p></body></html>"
    ) == "text here"
    # a template's content stays dropped, even with a body inside it
    assert md("<head><template><body>x</body></template></head><p>y</p>") == "y"


def test_pages_to_markdown_operator(spark):
    html = "<h2>T</h2><p>body text</p>"
    df = spark.createDataFrame(
        [(1, bytearray(html.encode()))], "doc_id int, html binary"
    )
    r = pages_to_markdown(df).first()
    assert r.markdown == "## T\n\nbody text"
    plan = pages_to_markdown(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
