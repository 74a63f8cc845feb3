"""Independent differential oracle: bs4-on-html.parser tree semantics.

The production extractor (htmlx/extractor.py) is a single-pass streaming
walker that *claims* byte parity with the reference's BeautifulSoup
pipeline (text_utils.py:119-135, crawler.py:60-101). bs4 itself is not
installed in this sandbox, so this module re-implements the documented
behavior of ``BeautifulSoup(html, "html.parser")`` the slow, obvious way —
an explicit tree built from stdlib html.parser events, then tree-walking
implementations of exactly the soup operations the reference performs:

* tree building: bs4's ``_popToTag`` end-tag rule with the
  ``open_tag_counter`` guard (stray end tags are ignored, matched end tags
  pop everything above them), bs4's 24-tag ``empty_element_tags`` void set
  (HTML5 voids + legacy ``basefont bgsound command frame image isindex
  keygen menuitem nextid spacer``), ``<tag/>`` = start+end, valueless
  attributes coerced to ``""``, duplicate attributes last-wins
  (``on_duplicate_attribute`` default REPLACE);
* string containers (bs4 >= 4.9): text directly inside ``script`` /
  ``style`` / ``template`` / ``rt`` / ``rp`` is typed Script/Stylesheet/
  TemplateString/RubyTextString/RubyParenthesisString and excluded from ``get_text()`` by the exact-type check in
  ``Tag._all_strings`` — but text nested deeper (e.g. inside a ``<p>``
  within a ``<template>``) is a plain NavigableString and IS included;
* comments / doctypes / CDATA / processing instructions: NavigableString
  subclasses — excluded from ``get_text`` (exact-type check) but
  *returned by* ``.string`` when they are a tag's only child;
* ``Tag.string``: None unless exactly one child; a single string child of
  any kind is returned as-is; a single *element* child recurses.

Everything here derives from the public bs4 source/docs and the stdlib —
no import of bs4 itself. Intentionally unoptimized: correctness oracle,
not an engine. Used by tests/test_extractor_differential.py.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import List, Optional, Tuple

# bs4 HTMLTreeBuilder.empty_element_tags (builder/__init__.py)
BS4_EMPTY_ELEMENT_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input", "keygen",
    "link", "menuitem", "meta", "param", "source", "track", "wbr",
    "basefont", "bgsound", "command", "frame", "image", "isindex",
    "nextid", "spacer",
})

# bs4 HTMLTreeBuilder.string_containers: tag -> typed string class for
# text whose *immediate* parent is that tag
STRING_CONTAINERS = {"script": "script", "style": "style",
                     "template": "template", "rt": "rt", "rp": "rp"}


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict, parent: Optional["Node"]):
        self.tag = tag
        self.attrs = attrs
        self.children: list = []
        self.parent = parent


class Text:
    """A string node; ``kind`` mirrors the bs4 string class:
    'text' = NavigableString, others (script/style/template/comment/
    doctype/pi/cdata) are subclasses excluded from get_text."""

    __slots__ = ("value", "kind")

    def __init__(self, value: str, kind: str):
        self.value = value
        self.kind = kind


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]", {}, None)
        self.stack: List[Node] = [self.root]
        self.open_counter: dict = {}
        self._data_buf: List[str] = []

    # -- helpers ----------------------------------------------------------
    def _string_kind(self) -> str:
        return STRING_CONTAINERS.get(self.stack[-1].tag, "text")

    def _end_data(self) -> None:
        """bs4 endData: consecutive handle_data events accumulate in
        ``current_data`` and flush into ONE NavigableString at the next
        non-data event; the string-container class is chosen at flush."""
        if self._data_buf:
            value = "".join(self._data_buf)
            self._data_buf.clear()
            self.stack[-1].children.append(Text(value, self._string_kind()))

    def _append_text(self, value: str, kind: str) -> None:
        self._end_data()
        self.stack[-1].children.append(Text(value, kind))

    # -- events -----------------------------------------------------------
    def handle_starttag(self, tag: str, attrs: List[Tuple[str, Optional[str]]]):
        self._end_data()
        ad: dict = {}
        for k, v in attrs:  # bs4: None value -> "", duplicate -> last wins
            ad[k] = v if v is not None else ""
        node = Node(tag, ad, self.stack[-1])
        self.stack[-1].children.append(node)
        if tag not in BS4_EMPTY_ELEMENT_TAGS:
            self.stack.append(node)
            self.open_counter[tag] = self.open_counter.get(tag, 0) + 1

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in BS4_EMPTY_ELEMENT_TAGS:
            self.handle_endtag(tag)

    def handle_endtag(self, tag: str) -> None:
        self._end_data()
        if tag in BS4_EMPTY_ELEMENT_TAGS:
            return
        # bs4 _popToTag with the open_tag_counter guard
        if not self.open_counter.get(tag):
            return
        while len(self.stack) > 1:
            top = self.stack.pop()
            self.open_counter[top.tag] -= 1
            if top.tag == tag:
                break

    def handle_data(self, data: str) -> None:
        self._data_buf.append(data)

    def handle_comment(self, data: str) -> None:
        self._append_text(data, "comment")

    def handle_decl(self, decl: str) -> None:
        self._append_text(decl, "doctype")

    def handle_pi(self, data: str) -> None:
        self._append_text(data, "pi")

    def unknown_decl(self, data: str) -> None:
        self._append_text(data, "cdata")


def build_tree(html: str) -> Node:
    b = _TreeBuilder()
    try:
        b.feed(html)
        b.close()
    except Exception:
        pass  # bs4/html.parser recover on pathological input
    b._end_data()
    return b.root


# -- soup operations ---------------------------------------------------------


def _walk(node: Node):
    """Document-order iterator over all descendants (iterative)."""
    stack = list(reversed(node.children))
    while stack:
        cur = stack.pop()
        yield cur
        if isinstance(cur, Node):
            stack.extend(reversed(cur.children))


def find_all(root: Node, pred) -> List[Node]:
    return [n for n in _walk(root) if isinstance(n, Node) and pred(n)]


def decompose(root: Node, tags: frozenset) -> None:
    """soup([...]) then tag.decompose() for each — find_all list first,
    then detach; decomposing an already-detached nested match is a no-op
    (reference text_utils.py:129-131)."""
    for n in find_all(root, lambda t: t.tag in tags):
        if n.parent is not None and n in n.parent.children:
            n.parent.children.remove(n)


def get_text(node: Node, separator: str = "", strip: bool = False) -> str:
    """Tag.get_text: join descendant strings whose exact type is
    NavigableString (kind == 'text'); with ``strip``, strip each and drop
    empties (bs4 _all_strings)."""
    parts = []
    for n in _walk(node):
        if isinstance(n, Text) and n.kind == "text":
            v = n.value
            if strip:
                v = v.strip()
                if not v:
                    continue
            parts.append(v)
    return separator.join(parts)


def tag_string(node: Node) -> Optional[str]:
    """Tag.string: None unless exactly one child; single string child of
    any kind is returned; single element child recurses (iteratively —
    adversarial inputs nest 1000 deep)."""
    cur = node
    while True:
        if len(cur.children) != 1:
            return None
        child = cur.children[0]
        if isinstance(child, Text):
            return child.value
        cur = child


def _safe_strip(value) -> str:
    return value.strip() if isinstance(value, str) else ""


# -- reference pipeline over the tree ----------------------------------------

_DECOMPOSED = frozenset({"script", "style", "header", "footer", "nav"})
_H_RE = re.compile(r"^h[1-6]$")


def extract_visible_text(html: str) -> str:
    """text_utils.py:119-135 on the oracle tree."""
    root = build_tree(html)
    decompose(root, _DECOMPOSED)
    text = get_text(root, separator=" ")
    return re.sub(r"\s+", " ", text).strip()


def page_metadata(html: str):
    """crawler.py:60-101 over a FRESH tree (the reference parses a second
    soup for metadata, so text-pass decomposition never affects it).
    Returns (title, meta_description, headings, images, links)."""
    root = build_tree(html)
    titles = find_all(root, lambda t: t.tag == "title")
    if titles:
        title = _safe_strip(tag_string(titles[0]))
    else:
        title = "(no title)"  # crawler.py:68
    descs = find_all(
        root, lambda t: t.tag == "meta" and t.attrs.get("name") == "description"
    )
    meta_description = _safe_strip(descs[0].attrs.get("content")) if descs else ""
    headings = [
        "#" * int(h.tag[1]) + " " + get_text(h, strip=True)
        for h in find_all(root, lambda t: _H_RE.match(t.tag))
    ]
    images = [
        {"src": i.attrs.get("src", ""), "alt": _safe_strip(i.attrs.get("alt"))}
        for i in find_all(root, lambda t: t.tag == "img")
    ]
    links = [
        a.attrs["href"]
        for a in find_all(root, lambda t: t.tag == "a" and "href" in t.attrs)
    ]
    return title, meta_description, headings, images, links
