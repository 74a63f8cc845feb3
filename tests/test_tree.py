"""Every HTML walker sits on htmlx/tree.py's bs4 tree rules, so each one
sees the same tree the extractor and tests/bs4_oracle.py see: ruby and
template text typed, end tags closing every element they pop, merged
string nodes in document order."""

from __future__ import annotations

from tribeca_insights_spark.htmlx.anchors import (
    extract_anchors,
    extract_anchors_rel,
)
from tribeca_insights_spark.htmlx.blocks import segment_blocks
from tribeca_insights_spark.htmlx.extractor import parse_page
from tribeca_insights_spark.htmlx.markdown import html_to_markdown
from tribeca_insights_spark.htmlx.readability import (
    build_tree,
    extract_main_content,
    node_text_stats,
)
from tribeca_insights_spark.htmlx.tables import extract_tables

RUBY = "<p>漢<ruby>字<rp>(</rp><rt>kan</rt><rp>)</rp></ruby>x</p>"


def test_ruby_annotation_text_dropped_by_every_walker():
    assert parse_page(RUBY).text == "漢 字 x"
    assert [b.text for b in segment_blocks(RUBY)] == ["漢 字 x"]
    assert html_to_markdown(RUBY) == "漢 字 x"
    assert node_text_stats(build_tree(RUBY))[0] == "漢 字 x"
    assert extract_tables(f"<table><tr><td>{RUBY}</td></tr></table>") == [
        [["漢 字 x"]]
    ]


def test_template_direct_text_is_not_a_block():
    assert segment_blocks("<template>tmpl body</template>") == []
    assert [b.text for b in segment_blocks(
        "<template><p>nested</p></template>"
    )] == ["nested"]


def test_anchor_text_ends_where_the_tree_closes_the_anchor():
    assert extract_anchors(
        '<p><a href="/x">go<script>var z=1</script></a></p>'
    ) == [("/x", "go")]
    assert extract_anchors(
        '<div><a href="/x">t</div><p>lots more text</p>'
    ) == [("/x", "t")]
    # find_all order, valueless href is "", last duplicate attribute wins
    assert extract_anchors(
        '<a href="/1">x<a href="/2">y</a>z</a><a href>v</a><a name=q>n</a>'
    ) == [("/1", "xyz"), ("/2", "y"), ("", "v")]
    assert extract_anchors_rel(
        '<a href="/1" rel="a" rel="UGC nofollow">x</a>'
    ) == [("/1", "x", ["ugc", "nofollow"])]


def test_markdown_state_closes_with_every_popped_element():
    assert html_to_markdown(
        "<ol><li>a<blockquote>q</div></li></ol><p>after</p>"
    ) == "1. a\n\n> q\n\nafter"
    # an <ol> popped by </div> stops numbering the items after it
    assert html_to_markdown(
        "<div><ol><li>x</div><ul><li>y</li></ul>"
    ) == "1. x\n\n- y"


def test_readability_keeps_document_order_and_merges_data():
    html = (
        "<div><p>The quick <b>brown</b> fox jumps over the lazy dog, "
        "again and again.</p></div>"
    )
    assert extract_main_content(html)["main_text"] == (
        "The quick brown fox jumps over the lazy dog, again and again."
    )
    assert node_text_stats(build_tree("<p>5<6</p>"))[0] == "5<6"
    deep = "<div>" * 1000 + "<p>" + "word " * 10 + "</p>" + "</div>" * 1000
    assert extract_main_content(deep)["main_text"] == ("word " * 10).strip()
