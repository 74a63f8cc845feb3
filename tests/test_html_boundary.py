"""The Python HTML boundary (operators/extract.html_udf): every walker
operator decodes ``html`` the way ``extract_pages`` does — with the
page's declared ``charset`` when the input carries one, UTF-8 otherwise —
and accepts ``html`` as ``binary`` or ``string``. One operator per walker
UDF; ``layout_fingerprint``'s signature holds only ASCII tag names, so no
decode can change it."""

import json
import re
from datetime import datetime

import pytest

from tribeca_insights_spark.operators.boilerplate import (
    content_spans,
    with_blocks,
)
from tribeca_insights_spark.operators.extract import extract_pages
from tribeca_insights_spark.operators.linkgraph import (
    anchor_pairs,
    rel_anchor_pairs,
)
from tribeca_insights_spark.operators.markdown import pages_to_markdown
from tribeca_insights_spark.operators.readability import extract_main
from tribeca_insights_spark.operators.sections import section_tree
from tribeca_insights_spark.operators.sinks import (
    page_json_column,
    page_markdown_column,
)
from tribeca_insights_spark.operators.tables import table_rows

# non-ASCII letters that latin-1 and UTF-8 encode differently; none is a
# stopword, so the tokenizer keeps all three in order
WORDS = "café crème brûlée"
PAGE = f"<table><tr><td>{WORDS}</td></tr></table>"
LINK_PAGE = f'<p><a href="https://x.example/a">{WORDS}</a></p>'


def _words(rows, field):
    return [w for r in rows for w in r[field].split()]


def _cleaned_text(report):
    return re.search(r"## Cleaned Text\n```\n(.*)\.\.\.\n```", report,
                     re.S).group(1)


CASES = {
    "pages_to_markdown": (
        PAGE, lambda d: _words(pages_to_markdown(d).collect(), "markdown")),
    "extract_main": (
        PAGE, lambda d: _words(extract_main(d).collect(), "main_text")),
    "section_tree": (
        PAGE, lambda d: _words(section_tree(d).collect(), "text")),
    "table_rows": (
        PAGE, lambda d: [w for r in table_rows(d).collect()
                         for c in r.cells for w in c.split()]),
    "anchor_pairs": (
        LINK_PAGE, lambda d: _words(anchor_pairs(d).collect(), "anchor")),
    "rel_anchor_pairs": (
        LINK_PAGE,
        lambda d: _words(rel_anchor_pairs(d).collect(), "anchor")),
    "with_blocks": (
        PAGE, lambda d: [w for r in with_blocks(d).collect()
                         for b in r.blocks for w in b.text.split()]),
    "content_spans": (
        PAGE, lambda d: _words(content_spans(d).collect(), "span_text")),
    "page_markdown_column": (
        PAGE, lambda d: [w for r in d.select(
            page_markdown_column(d).alias("m")).collect()
            for w in _cleaned_text(r.m).split()]),
    "page_json_column": (
        PAGE, lambda d: [w for r in d.select(
            page_json_column(d).alias("j")).collect()
            for w in json.loads(r.j)["word_frequency"]]),
}


def _docs(spark, html, encoding):
    row = (1, "https://h.example/p", datetime(2024, 1, 1), "en",
           bytearray(html.encode(encoding)))
    schema = ("doc_id int, url string, warc_ts timestamp, lang string, "
              "html binary")
    if encoding == "utf-8":  # no charset column: UTF-8 by contract
        return spark.createDataFrame([row], schema)
    return spark.createDataFrame([row + (encoding,)],
                                 schema + ", charset string")


_EXTRACTED = {}  # (html, encoding) → words of extract_pages(...).text


@pytest.mark.parametrize("encoding", ["latin-1", "utf-8"])
@pytest.mark.parametrize("op", sorted(CASES))
def test_walker_decodes_like_extract_pages(spark, op, encoding):
    html, words_of = CASES[op]
    docs = _docs(spark, html, encoding)
    key = (html, encoding)
    if key not in _EXTRACTED:
        _EXTRACTED[key] = _words(extract_pages(docs).collect(), "text")
    assert _EXTRACTED[key] == WORDS.split()
    assert words_of(docs) == _EXTRACTED[key]


def test_rel_anchor_pairs_binary_equals_string(spark):
    html = ('<a href="https://x.example/a" rel="nofollow">t</a>'
            '<a href="/b">u</a>')
    got = {}
    for typ, value in (("binary", bytearray(html.encode())),
                       ("string", html)):
        docs = spark.createDataFrame([("https://h.example/p", value)],
                                     f"url string, html {typ}")
        got[typ] = sorted(rel_anchor_pairs(docs).collect())
    assert got["binary"] == got["string"]
    assert [(r.target, r.followed) for r in got["string"]] == [
        ("https://h.example/b", 1), ("https://x.example/a", 0),
    ]
