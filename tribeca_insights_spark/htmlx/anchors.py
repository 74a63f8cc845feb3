"""Anchor (href, visible text) pair extraction.

A small walker over the bs4 tree events of :class:`.tree.TreeWalker`,
separate from the extractor's ``_Walker`` so the byte-parity visible-text
path stays untouched. Mirrors what the reference would get from
``soup.find_all("a")`` over the FULL soup (crawler.py:93-101 iterates all
anchors before boilerplate decomposition), i.e. nav/header/footer anchors
ARE included: for link-graph work (anchor-text aggregation, PageRank
seeding) boilerplate links are signal, not noise.

Anchor text is ``a.get_text()``: the anchor element's untyped string
nodes (script/style content is left out), closed wherever the tree closes
the element, so an end tag that pops an open ``<a>`` ends its text.
Nested ``<a>`` is invalid HTML, but html.parser surfaces whatever tag soup
arrives: text is credited to every open anchor, and pairs come out in
document order of the start tags (find_all order). Anchor text is
whitespace-collapsed with the same ``\\s+``-to-space rule as the
visible-text extractor (reference text_utils.py:133-134).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from .tree import TreeWalker


class _AnchorWalker(TreeWalker):
    def __init__(self) -> None:
        super().__init__()
        self.pairs: List[tuple] = []  # one slot per anchor with an href
        # one (slot, attrs, text parts) per open <a>, innermost last
        self._open: List[Tuple[Optional[int], Dict[str, str], List[str]]] = []

    def start(self, tag, attrs):
        if tag == "a":
            slot = None
            if "href" in attrs:  # reserve the document-order slot
                slot = len(self.pairs)
                self.pairs.append(())
            self._open.append((slot, attrs, []))

    def text(self, data):
        for _, _, parts in self._open:
            parts.append(data)

    def end(self, depth):
        for _ in range(self.stack[depth:].count("a")):
            slot, attrs, parts = self._open.pop()
            if slot is not None:
                self.pairs[slot] = self._pair(
                    attrs, " ".join("".join(parts).split())
                )

    def _pair(self, attrs: Dict[str, str], text: str) -> tuple:
        return attrs["href"], text


def extract_anchors(html: str) -> List[Tuple[str, str]]:
    """All ``(href, collapsed anchor text)`` pairs in document order.

    Anchors without an ``href`` attribute are skipped (they are jump
    targets, not links); a valueless ``href`` is ``""``, as in bs4.
    Tolerant of malformed HTML — never raises.
    """
    return _AnchorWalker().run(html).pairs


class _RelAnchorWalker(_AnchorWalker):
    """`_AnchorWalker` that also records each anchor's ``rel`` tokens
    (lowercased, space-split — ``rel="ugc nofollow"`` is a token LIST
    per the HTML spec, not a literal)."""

    def _pair(self, attrs, text):
        return attrs["href"], text, attrs.get("rel", "").lower().split()


def extract_anchors_rel(html: str) -> List[tuple]:
    """All ``(href, text, rel_tokens)`` triples in document order —
    the link-graph needs ``rel`` to honor nofollow/ugc/sponsored
    edge semantics."""
    return _RelAnchorWalker().run(html).pairs
