"""bs4 ``html.parser`` tree rules, in one place, under every HTML walker.

The reference derives every HTML output from one
``BeautifulSoup(html, "html.parser")`` tree (crawler.py:143-175). bs4's
``html.parser`` builder is the stdlib :class:`html.parser.HTMLParser`
tokenizer plus a handful of tree-building decisions. :class:`TreeWalker`
makes those decisions once, as a stream of normalized events, and each
walker (extractor, blocks, markdown, tables, readability, anchors, layout
fingerprint) subclasses it and keeps only its own decisions:

* end tags pop the open-tag stack up to the nearest matching start tag and
  are ignored when unmatched (bs4 ``BeautifulSoup._popToTag``);
* the 24 void tags are never pushed and their end tags are ignored;
* ``<t/>`` is a start tag followed by its end tag;
* consecutive character-data events merge into one string node
  (bs4 ``BeautifulSoup.endData``);
* string typing: a string node whose immediate parent is ``script``,
  ``style``, ``template``, ``rt`` or ``rp`` is a typed string
  (Script/Stylesheet/TemplateString/RubyTextString/RubyParenthesisString)
  and never part of ``get_text`` (bs4 >= 4.9 exact-type check). Nothing
  nests inside ``script``/``style`` (html.parser reads them as raw text),
  so all their text is typed; text nested deeper inside
  ``template``/``rt``/``rp`` is a plain string;
* comments, doctypes, processing instructions and CDATA are non-text nodes;
* at EOF every open element is closed;
* valueless attributes become ``""`` and the last duplicate wins (bs4
  ``handle_starttag`` and the REPLACE ``on_duplicate_attribute`` default).

Consumer hooks, all no-ops here:

* ``start(tag, attrs)`` — a start tag; ``self.stack`` holds its ancestors
  (the tag is pushed after the hook unless void);
* ``end(depth)`` — an end tag (or EOF) closes ``self.stack[depth:]``, one
  or more elements, innermost last; they are popped after the hook;
* ``text(data)`` — one merged, untyped string node (visible to
  ``get_text``); ``self.stack`` holds its ancestors;
* ``node(data)`` — a typed string node or a comment/decl/PI/CDATA node.

:meth:`TreeWalker.run` is the one tolerant ``feed`` + ``close`` runner.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Dict, List, Optional, Tuple

# bs4 HTMLTreeBuilder.string_containers: text whose immediate parent is one
# of these is a typed string.
STRING_CONTAINERS = frozenset({"script", "style", "template", "rt", "rp"})

# Void elements — never pushed on the open-tag stack. This is bs4's full
# HTMLTreeBuilder.empty_element_tags: the HTML5 voids plus the legacy set
# (basefont..spacer) that bs4 still treats as empty — a stray </frame> or
# <image> must not perturb pop-to-tag depth if parity is byte-exact.
VOID_TAGS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "keygen", "link", "menuitem", "meta", "param", "source", "track",
        "wbr",
        "basefont", "bgsound", "command", "frame", "image", "isindex",
        "nextid", "spacer",
    }
)

_SIMPLE_START = re.compile(r"<([a-zA-Z][a-zA-Z0-9]*)>")
_SIMPLE_END = re.compile(r"</([a-zA-Z][a-zA-Z0-9]*)>")


class FastTagPaths:
    """Fast paths for the two most common token shapes — ``<tag>`` with no
    attributes and ``</tag>`` outside CDATA content — bypassing
    html.parser's attribute regex machinery. Behavior replicated exactly
    (tag lowercasing, ``lasttag``, CDATA entry for script/style); anything
    else — attributes, whitespace, ``<tag/>``, bogus markup, in-CDATA end
    tags (which need the match/clear logic) — falls back to the stdlib
    implementation. Equivalence pinned by
    tests/test_extractor.py::test_fast_tag_paths_equivalence; measured
    ~13% whole-page parse speedup."""

    def parse_starttag(self, i):  # noqa: D102 — see class docstring
        m = _SIMPLE_START.match(self.rawdata, i)
        if m:
            tag = m.group(1).lower()
            self.lasttag = tag
            self.handle_starttag(tag, [])
            if tag in self.CDATA_CONTENT_ELEMENTS:
                self.set_cdata_mode(tag)
            return m.end()
        return super().parse_starttag(i)

    def parse_endtag(self, i):
        if self.cdata_elem is None:
            m = _SIMPLE_END.match(self.rawdata, i)
            if m:
                self.handle_endtag(m.group(1).lower())
                return m.end()
        return super().parse_endtag(i)

    def updatepos(self, i, j):
        # stdlib tracks line/column purely for error reporting, scanning
        # every consumed chunk for newlines (~8% of whole-page parse);
        # the walkers never read positions — skip the bookkeeping.
        return j


class TreeWalker(FastTagPaths, HTMLParser):
    """bs4 html.parser tree rules as a stream of consumer hooks (see the
    module docstring)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: List[str] = []  # open non-void tags, bs4-style
        self._buf: List[str] = []  # pending character data (merged node)

    # -- consumer hooks ----------------------------------------------------
    def start(self, tag: str, attrs: Dict[str, str]) -> None:
        pass

    def end(self, depth: int) -> None:
        pass

    def text(self, data: str) -> None:
        pass

    def node(self, data: str) -> None:
        pass

    # -- bs4-style data-node merging -------------------------------------
    def _end_data(self) -> None:
        data = "".join(self._buf)
        self._buf.clear()
        stack = self.stack
        if stack and stack[-1] in STRING_CONTAINERS:
            self.node(data)
        else:
            self.text(data)

    def handle_data(self, data: str) -> None:
        self._buf.append(data)

    # -- tag events --------------------------------------------------------
    def handle_starttag(self, tag: str, attrs: List[Tuple[str, Optional[str]]]) -> None:
        if self._buf:
            self._end_data()
        ad: Dict[str, str] = {}
        for k, v in attrs:  # duplicate attribute: last wins (bs4 default)
            # bs4 handle_starttag: "Change None attribute values to ''"
            # — a valueless attribute (<a href>) is present-with-empty,
            # not absent (find_all(href=True) matches it)
            ad[k] = v if v is not None else ""
        self.start(tag, ad)
        if tag not in VOID_TAGS:
            self.stack.append(tag)

    def handle_startendtag(self, tag: str, attrs: List[Tuple[str, Optional[str]]]) -> None:
        # <tag/> → bs4 html.parser: start + immediate end
        self.handle_starttag(tag, attrs)
        if tag not in VOID_TAGS:
            self.handle_endtag(tag)

    def handle_endtag(self, tag: str) -> None:
        if self._buf:
            self._end_data()
        if tag in VOID_TAGS:
            return
        # bs4 _popToTag: find nearest matching open tag; ignore stray end tags
        stack = self.stack
        for i in range(len(stack) - 1, -1, -1):
            if stack[i] == tag:
                self.end(i)
                del stack[i:]
                return

    # -- non-text events: Comment/Doctype/CData/PI nodes -------------------
    def handle_comment(self, data: str) -> None:
        if self._buf:
            self._end_data()
        self.node(data)

    handle_decl = handle_pi = unknown_decl = handle_comment

    # -- EOF ---------------------------------------------------------------
    def close(self) -> None:
        super().close()
        self.finish()

    def finish(self) -> None:
        """Flush pending data and implicitly close every open element."""
        if self._buf:
            self._end_data()
        if self.stack:
            self.end(0)
            self.stack.clear()

    def run(self, html: str) -> "TreeWalker":
        """Parse ``html`` to EOF and return ``self``. Never raises on
        markup: html.parser raises only on pathological input, and then
        what was parsed is kept and closed at the break, as bs4 recovers
        with a best-effort tree."""
        try:
            self.feed(html)
            self.close()
        except Exception:
            self.finish()
        return self
