"""Adversarial differential suite: streaming extractor vs the bs4-semantics
tree oracle (tests/bs4_oracle.py) — r4 verdict item #4. The tag-soup fuzz
also checks the block and readability walkers, which sit on the same tree
core, against the oracle's text.

The north_rule's byte-parity invariant was pinned on goldens + fuzz; these
cases attack the tree-semantics corners where a single-pass walker and a
real tree builder can disagree: mis-nested tables, comments/CDATA edge
forms, script-in-attribute, huge attributes, 1000-deep nesting, broken
entities, null bytes, string containers, ``.string`` recursion, legacy
void elements. Every case asserts ALL extraction channels agree:
visible text, title, meta description, headings, images, links.
"""

from __future__ import annotations

import pytest

from tribeca_insights_spark.htmlx.blocks import segment_blocks
from tribeca_insights_spark.htmlx.extractor import (
    extract_visible_text,
    parse_page,
)
from tribeca_insights_spark.htmlx.readability import (
    build_tree,
    node_text_stats,
)

from . import bs4_oracle as oracle

CASES = {
    # --- mis-nested tables -------------------------------------------------
    "table_implied_cells": "<table><tr><td>a<td>b</tr></table>",
    "table_unclosed_rows": "<table><tr><td>a</td><tr><td>b</table>tail",
    "table_in_p": "<p>x<table><tr><td>y</td></tr></table>z</p>",
    "tr_outside_table": "<tr><td>stray</td></tr>after",
    "nested_tables_unclosed": (
        "<table><tr><td>o<table><tr><td>i</table></td></tr></table>t"
    ),
    "td_end_closes_across": "<table><tr><td><b>x</td></tr></table>y",
    # --- comments / CDATA / decls -----------------------------------------
    "comment_in_text": "a<!-- hidden -->b",
    "comment_only_title": "<title><!-- secret --></title><p>body</p>",
    "comment_and_text_title": "<title>a<!--c-->b</title>",
    "cdata_section": "x<![CDATA[ raw <b>not-a-tag</b> ]]>y",
    "conditional_comment": "a<!--[if IE]><p>ie only</p><![endif]-->b",
    "unclosed_comment": "visible<!-- swallowed <p>gone</p>",
    "doctype_mid_document": "a<!DOCTYPE html>b",
    "processing_instruction": "a<?php echo 'x'; ?>b",
    # --- script / style edges ---------------------------------------------
    "script_markup_in_attr": '<div onclick="<script>alert(1)</script>">t</div>',
    "script_with_tags_inside": "<script>if (a<b) { document.write('<p>x</p>') }</script>k",
    "style_with_selectors": "<style>p > a { color: red }</style>m",
    "unclosed_script_swallows": "pre<script>var x = 1; rest",
    "script_end_with_space": "<script>x</script >after",
    "script_inside_title": "<title><script>x</script></title><p>b</p>",
    # --- attributes --------------------------------------------------------
    "huge_attribute": '<a href="' + "A" * 70000 + '">big</a>',
    "valueless_href": "<a href>v</a>",
    "valueless_src_alt": "<img src alt>w",
    "duplicate_attrs_last_wins": '<a href="first" href="second">d</a>',
    "unquoted_messy_attr": "<a href=foo\"bar>q</a>",
    "attr_with_newlines": '<a href="line1\nline2">n</a>',
    "meta_valueless_content": '<meta name="description" content><p>b</p>',
    # --- entities ----------------------------------------------------------
    "known_entities": "a &amp; b &lt;c&gt; &quot;d&quot;",
    "unknown_entity": "x &notarealentity; y",
    "numeric_charrefs": "&#65;&#x42;&#X63;",
    "bare_ampersand": "salt & pepper &",
    "null_charref": "a&#0;b",
    "entity_in_attribute": '<a href="?a=1&amp;b=2">e</a>',
    # --- deep nesting ------------------------------------------------------
    "deep_divs_1000": "<div>" * 1000 + "core" + "</div>" * 1000,
    "deep_unclosed_p_500": "<p>" * 500 + "deep",
    "interleaved_close": "<b>x<i>y</b>z</i>w",
    "deep_bold_title": "<title>" + "<b>" * 200 + "t" + "</b>" * 200 + "</title>",
    "deep_heading": "<h2>" + "<span>" * 300 + "h" + "</span>" * 300 + "</h2>",
    # --- void elements (incl. bs4 legacy voids) ---------------------------
    "void_end_tags_ignored": "a<br></br>b<hr></hr>c",
    "legacy_void_image": "<image>after-image</image>x",
    "legacy_void_frame": "<div><frame>in</div>out",
    "legacy_void_keygen": "<form><keygen>k</form>m",
    "self_closing_div": "<div/>not-inside",
    "self_closing_heading": "<h1/>outside",
    # --- title edges -------------------------------------------------------
    "title_single_elem_child": "<title><b>bold title</b></title><p>b</p>",
    "title_text_and_elem": "<title>a<b>x</b></title><p>b</p>",
    "title_nested_single_chain": "<title><b><i>deep</i></b></title>",
    "title_whitespace_children": "<title> <b>x</b> </title>",
    "second_title_ignored": "<title>first</title><title>second</title>",
    "title_in_body": "<body><p>pre</p><title>late</title></body>",
    "empty_title": "<title></title><p>b</p>",
    "title_unclosed": "<title>runs to end <p>still title",
    # --- decomposed-tag edges ---------------------------------------------
    "nav_in_header": "<header>h<nav>n</nav>i</header>j",
    "heading_inside_nav": "<nav><h3>menu</h3></nav>outside",
    "unclosed_header_swallows": "keep<header>lost<p>also lost",
    "endnav_closes_header": "<header>x<div>y</nav>z",
    "footer_nested_in_footer": "<footer>a<footer>b</footer>c</footer>d",
    "img_inside_nav": '<nav><img src="/i.png" alt="ico"></nav>t',
    # --- template string containers ---------------------------------------
    "template_direct_text": "a<template>hidden</template>b",
    "template_nested_elem_text": "a<template><p>shown</p></template>b",
    "template_in_heading": "<h1><template>x</template>done</h1>",
    "heading_in_template": "<template><h2>tpl heading</h2></template>body",
    "nested_templates": "<template>o<template>i</template></template>v",
    # --- ruby annotation string containers --------------------------------
    "ruby_rt_rp": "<p>漢<ruby>字<rp>(</rp><rt>kan</rt><rp>)</rp></ruby>x</p>",
    "rt_nested_elem_text": "<ruby>a<rt><b>shown</b></rt></ruby>b",
    "rt_in_heading": "<h2>top<rt>hid</rt></h2>body",
    "rt_as_title": "<title><rt>ruby title</rt></title><p>b</p>",
    # --- misc hostile ------------------------------------------------------
    "null_bytes_in_text": "a\x00b<p>c\x00</p>",
    "mixed_case_tags": "<DiV>x</dIv><A HREF='/P'>y</A>",
    "bogus_lt": "5 < 6 and < notatag>",
    "empty_tag_brackets": "a<>b</>c",
    "many_meta_first_wins": (
        '<meta name="description" content=" first "><meta name="description"'
        ' content="second"><p>b</p>'
    ),
}


def _page_view(html: str):
    p = parse_page(html)
    return p.title, p.meta_description, p.headings, p.images, p.links


@pytest.mark.parametrize("name", sorted(CASES))
def test_differential_all_channels(name):
    html = CASES[name]
    assert extract_visible_text(html) == oracle.extract_visible_text(html), (
        "visible-text divergence"
    )
    o_title, o_desc, o_headings, o_images, o_links = oracle.page_metadata(html)
    title, desc, headings, images, links = _page_view(html)
    assert title == o_title, "title divergence"
    assert desc == o_desc, "meta-description divergence"
    assert headings == o_headings, "headings divergence"
    assert images == o_images, "images divergence"
    assert links == o_links, "links divergence"


def test_case_count_minimum():
    # the r4 verdict asks for >= 50 new differential cases
    assert len(CASES) >= 50


# --- hypothesis tag-soup fuzz: random markup, all channels ------------------

try:
    from hypothesis import given, settings, strategies as st

    _TAGS = [
        "div", "p", "b", "i", "span", "title", "h1", "h2", "h3", "nav",
        "header", "footer", "script", "style", "template", "ruby", "rt",
        "rp", "table", "tr", "td", "a", "img", "br", "meta", "frame",
        "image", "keygen",
    ]
    _TEXTS = ["x", " ", "a b", "&amp;", "&bogus;", "<", ">", "5<6",
              "é中", "\t\n", "&#65;", "dup"]

    def _frag():
        return st.one_of(
            st.sampled_from(_TEXTS),
            st.sampled_from(_TAGS).map(lambda t: f"<{t}>"),
            st.sampled_from(_TAGS).map(lambda t: f"</{t}>"),
            st.sampled_from(_TAGS).map(lambda t: f"<{t}/>"),
            st.sampled_from(_TAGS).map(
                lambda t: f'<{t} href="/u" src="/s" alt="al" name="description" content="c">'
            ),
            st.sampled_from(["<!--c-->", "<!-- unterminated",
                             "<![CDATA[z]]>", "<!DOCTYPE html>", "<?pi ?>"]),
        )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(_frag(), min_size=0, max_size=40).map("".join))
    def test_random_tag_soup_differential(html):
        assert extract_visible_text(html) == oracle.extract_visible_text(html)
        o = oracle.page_metadata(html)
        p = parse_page(html)
        assert (p.title, p.meta_description, p.headings, p.images,
                p.links) == o

    @settings(max_examples=300, deadline=None)
    @given(st.lists(_frag(), min_size=0, max_size=40).map("".join))
    def test_random_tag_soup_blocks_words(html):
        # blocks split the full tree's get_text string nodes (header/nav/
        # footer kept, typed strings dropped): same words, same order
        words = " ".join(b.text for b in segment_blocks(html)).split()
        assert words == oracle.get_text(oracle.build_tree(html), " ").split()

    @settings(max_examples=300, deadline=None)
    @given(st.lists(_frag(), min_size=0, max_size=40).map("".join))
    def test_random_tag_soup_readability_root_text(html):
        root = oracle.build_tree(html)
        oracle.decompose(
            root, frozenset({"script", "style", "noscript", "template"})
        )
        assert node_text_stats(build_tree(html))[0] == " ".join(
            oracle.get_text(root, " ").split()
        )

except ImportError:  # pragma: no cover - hypothesis is baked into the image
    pass


# --- the SAME hostile cases through the ACTUAL Spark pandas-UDF path --------
# closes the loop walker == Spark UDF == independent tree oracle, and
# exercises the Arrow boundary on the nastiest payloads (null bytes,
# non-ASCII, 70 KB attributes, 1000-deep nesting)


def test_hostile_cases_through_spark_udf(spark):
    from pyspark.sql import Row

    from tribeca_insights_spark.operators.extract import extract_pages
    from tribeca_insights_spark.schemas import DOCS_SCHEMA

    names = sorted(CASES)
    rows = [
        Row(
            url=f"https://d.example.com/p/{i}",
            warc_ts=None,
            html=CASES[n].encode("utf-8"),
            text="",
            lang="en",
        )
        for i, n in enumerate(names)
    ]
    df = spark.createDataFrame(rows, DOCS_SCHEMA)
    got = {
        int(r["url"].rsplit("/", 1)[1]): r
        for r in extract_pages(df).collect()
    }
    assert len(got) == len(names)
    for i, n in enumerate(names):
        o_title, o_desc, o_headings, o_images, _ = oracle.page_metadata(
            CASES[n]
        )
        r = got[i]
        assert r["text"] == oracle.extract_visible_text(CASES[n]), (
            f"{n}: UDF visible-text divergence"
        )
        assert r["title"] == o_title, f"{n}: UDF title divergence"
        assert r["meta_description"] == o_desc, f"{n}: UDF desc divergence"
        assert list(r["headings"]) == o_headings, (
            f"{n}: UDF headings divergence"
        )
        assert [
            {"src": im["src"], "alt": im["alt"]} for im in r["images"]
        ] == o_images, f"{n}: UDF images divergence"
