"""HTML → Markdown conversion — structure-preserving text extraction.

The reference renders Markdown REPORTS about pages (exporters/markdown.py)
but extracts page text flat (crawler.py:163 ``get_text``); modern
training-data pipelines increasingly keep the page's STRUCTURE in
lightweight Markdown (headings, lists, links) because structure carries
signal plain text loses. This walker is that converter: deterministic,
dependency-free, over the same bs4 tree events (:class:`.tree.TreeWalker`)
as the other walkers.

Scope (deterministic subset, documented):
- ``h1``–``h6`` → ``#``-prefixed heading lines;
- block elements (``p``/``div``/…, the blocks.py ``BLOCK_TAGS`` set)
  → paragraphs separated by blank lines;
- ``<li>`` → ``- `` items (``<ol>`` items numbered ``1.`` ``2.`` … per
  list, nested lists restart their own counters);
- ``<blockquote>`` content → ``> ``-prefixed;
- ``<a href>`` → ``[text](href)``; nested markup inside the anchor is
  flattened to its text; anchors without href render as plain text;
- ``<img>`` → ``![alt](src)`` inline tokens;
- head/template subtrees dropped entirely, except a ``<body>`` opened
  inside a never-closed ``<head>``; typed text (script/style content,
  ruby ``rt``/``rp`` annotations) is never seen;
- text nodes are stripped and joined with single spaces (the extractor's
  whitespace discipline); Markdown metacharacters in source text are NOT
  escaped (web-corpus text rarely collides; an escaping pass is a
  one-line ``regexp_replace`` downstream if a consumer needs it).
"""

from __future__ import annotations

from typing import List, Optional

from .blocks import BLOCK_TAGS, enclosing_block
from .tree import TreeWalker

_DROPPED = frozenset({"head", "template"})
_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}


class _MarkdownWalker(TreeWalker):
    def __init__(self) -> None:
        super().__init__()
        # stack index of the outermost open dropped element, None when
        # not inside one: every event beneath it is ignored
        self._drop_at: Optional[int] = None
        self.blocks: List[str] = []
        self._parts: List[str] = []
        self._context = "body"
        # open-anchor state: (href, parts) — innermost only
        self._link: Optional[tuple] = None
        # ordered-list counters, one per open <ol>
        self._ol: List[int] = []
        self._li_marker: Optional[str] = None
        self._quote_depth = 0

    # -- emit helpers -------------------------------------------------------
    def _emit(self, token: str) -> None:
        tgt = self._link[1] if self._link is not None else self._parts
        tgt.append(token)

    def _flush(self) -> None:
        if self._link is not None:  # unclosed <a> at a block boundary
            self._close_link()
        text = " ".join(p for p in self._parts if p)
        self._parts = []
        marker, self._li_marker = self._li_marker, None
        if not text:
            return
        lvl = _HEADINGS.get(self._context)
        if lvl:
            text = "#" * lvl + " " + text
        elif marker:
            text = marker + text
        if self._quote_depth:
            text = "> " * self._quote_depth + text
        self.blocks.append(text)

    def _close_link(self) -> None:
        href, parts = self._link
        self._link = None
        text = " ".join(p for p in parts if p)
        if href:
            self._emit(f"[{text}]({href})")
        elif text:
            self._emit(text)

    # -- events -------------------------------------------------------------
    def start(self, tag, attrs) -> None:
        if self._drop_at is not None:
            # an unclosed <head> holds the body in bs4's tree: the body's
            # content is still the page, so the head drop ends there
            # (not inside a template, whose content stays dropped)
            dropped = self.stack[self._drop_at:]
            if tag != "body" or dropped[0] != "head" or "template" in dropped:
                return
            self._drop_at = None
        if tag in _DROPPED:
            self._drop_at = len(self.stack)
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._context = tag
            if tag == "ol":
                self._ol.append(0)
            elif tag == "li":
                if self._ol:
                    self._ol[-1] += 1
                    self._li_marker = f"{self._ol[-1]}. "
                else:
                    self._li_marker = "- "
            elif tag == "blockquote":
                self._quote_depth += 1
        if tag == "a":
            if self._link is not None:
                self._close_link()
            self._link = (attrs.get("href"), [])
        elif tag == "img":
            alt = attrs.get("alt", "")
            self._emit(f"![{alt.strip()}]({attrs.get('src', '')})")

    def end(self, depth) -> None:
        top = len(self.stack)
        if self._drop_at is not None:
            if depth > self._drop_at:
                return
            top, self._drop_at = self._drop_at, None
        closed = self.stack[depth:top]
        if "a" in closed and self._link is not None:
            self._close_link()
        if BLOCK_TAGS.isdisjoint(closed):
            return
        self._flush()
        for t in closed:
            if t == "ol" and self._ol:
                self._ol.pop()
            elif t == "blockquote" and self._quote_depth:
                self._quote_depth -= 1
        self._context = enclosing_block(self.stack[:depth])

    def text(self, data) -> None:
        if self._drop_at is not None:
            return
        t = " ".join(data.split())
        if t:
            self._emit(t)

    def finish(self) -> None:
        super().finish()
        self._flush()


def html_to_markdown(html: Optional[str]) -> str:
    """Convert a page to Markdown (empty string for None/empty input;
    broken markup yields whatever was convertible — never raises)."""
    if not html:
        return ""
    return "\n\n".join(_MarkdownWalker().run(html).blocks)
