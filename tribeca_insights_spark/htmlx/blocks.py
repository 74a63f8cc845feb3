"""Block segmentation for boilerplate / main-content extraction.

The reference extracts the WHOLE visible text of a page (crawler.py:163 —
`soup.get_text()` after decomposing script/style); it has no notion of
boilerplate. For a training-data pipeline that is the first quality gap a
user hits: nav bars, headers, footers, and link farms dominate token counts
on real pages. This module segments a page into text BLOCKS (the jusText /
trafilatura unit of classification — Pomikálek 2011) so the Spark layer can
classify each block by link density and length and keep only main content.

Single pass over the bs4 tree events of :class:`.tree.TreeWalker`, the core
the extractor also sits on, so block text is consistent with
`extract_visible_text`: a block split of the same untyped string-node
stream (script/style/template/ruby-annotation text is typed and never
seen here).

Classification itself happens JVM-side in operators/boilerplate.py — this
walker only produces the per-block facts (text, word count, link-word
count), keeping the Python stage a pure parser exactly like extract_pages.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional

from .tree import TreeWalker

# Unlike the reference's visible-text extraction (which decomposes
# header/footer/nav wholesale, extractor.py DECOMPOSED_TAGS — crawler.py:160
# removes them before get_text), block segmentation KEEPS those subtrees:
# they are precisely the blocks the classifier needs to see and score as
# boilerplate.

# HTML block-level elements: opening or closing one of these starts a new
# block. Inline elements (a, span, b, em, …) flow within the current block.
BLOCK_TAGS = frozenset(
    """
    address article aside blockquote dd details div dl dt fieldset
    figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr li main nav
    ol p pre section table tbody td tfoot th thead tr ul
    """.split()
)

_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})


def enclosing_block(open_tags: List[str]) -> str:
    """Innermost block-level element among ``open_tags`` ("body" when
    none is open)."""
    for t in reversed(open_tags):
        if t in BLOCK_TAGS:
            return t
    return "body"


@dataclass
class Block:
    """One segmented text block with the facts classification needs."""

    idx: int
    tag: str  # innermost block-level element ("body" when none is open)
    text: str  # stripped string nodes joined with " "
    n_words: int
    n_link_words: int  # words inside an <a> subtree
    is_heading: bool


class _BlockWalker(TreeWalker):
    """Splits the visible string-node stream on block-element boundaries."""

    def __init__(self) -> None:
        super().__init__()
        self._link_depth = 0  # open <a> elements
        # current block accumulator: list of (string_node, was_in_link)
        self._parts: List[tuple] = []
        self._context = "body"
        self.blocks: List[Block] = []

    def text(self, data: str) -> None:
        self._parts.append((data, self._link_depth > 0))

    def _flush(self) -> None:
        if not self._parts:
            return
        texts, n_words, n_link = [], 0, 0
        for data, in_link in self._parts:
            stripped = data.strip()
            if not stripped:
                continue
            texts.append(stripped)
            w = len(stripped.split())
            n_words += w
            if in_link:
                n_link += w
        self._parts.clear()
        if not texts:
            return
        self.blocks.append(
            Block(
                idx=len(self.blocks),
                tag=self._context,
                text=" ".join(texts),
                n_words=n_words,
                n_link_words=n_link,
                is_heading=self._context in _HEADINGS,
            )
        )

    def start(self, tag, attrs) -> None:
        if tag in BLOCK_TAGS:
            self._flush()
            self._context = tag
        elif tag == "a":
            self._link_depth += 1

    def end(self, depth) -> None:
        closed = self.stack[depth:]
        self._link_depth -= closed.count("a")
        if not BLOCK_TAGS.isdisjoint(closed):
            self._flush()
            self._context = enclosing_block(self.stack[:depth])

    def finish(self) -> None:
        super().finish()
        self._flush()


def segment_blocks(html: Optional[str]) -> List[Block]:
    """Segment a page into text blocks (empty list for None/empty/broken)."""
    if not html:
        return []
    return _BlockWalker().run(html).blocks


# ---------------------------------------------------------------------------
# span-tracking segmentation (north_rule: "extracted text/spans per document")
# ---------------------------------------------------------------------------


class _SpanWalker(_BlockWalker):
    """`_BlockWalker` that additionally records, per block, the character
    span ``[start, end)`` in the DECODED html string covering the block's
    visible source text: ``start`` = offset of the first non-whitespace
    character of the block's first visible string node, ``end`` = one past
    the last non-whitespace character of its last visible string node.

    For a single-text-node block, ``html[start:end]`` is exactly the raw
    source of the block text (pre-whitespace-collapse, pre-charref-
    interpolation). For multi-node blocks ("about … ext") the span is the
    smallest source range covering all the block's visible nodes, so it
    includes the inline markup between them — the contract a span-keyed
    audit or highlight layer needs.

    Positions: html.parser's ``goahead`` loop calls ``updatepos(i, j)``
    after consuming each token, and tokens are contiguous, so at the time
    any handler runs, the last ``updatepos`` end is exactly the current
    token's START offset. ``FastTagPaths`` discards the stdlib's
    line/column bookkeeping, so this walker overrides ``updatepos`` to
    keep the absolute index instead — O(1), no newline scans. A data run
    opens at the first non-blank data token of a string node and closes
    when the core flushes that node, at the start of the NEXT structural
    event (the ``<`` of the following tag/comment/decl, or EOF), with the
    raw slice between them stripped of leading/trailing whitespace. Exact
    under ``convert_charrefs=True`` because all lengths are measured on
    the raw source slice, never on the interpolated text.
    """

    def __init__(self, html: str) -> None:
        super().__init__()
        self._html = html
        self._apos = 0  # absolute offset of the token now being handled
        self._run_start: Optional[int] = None
        self._blk_start: Optional[int] = None
        self._blk_end: Optional[int] = None
        self.spans: List[tuple] = []  # aligned with self.blocks

    def updatepos(self, i, j):  # called by goahead after every token
        # close() re-runs goahead on the unconsumed tail, indexed from 0
        self._apos = j + len(self._html) - len(self.rawdata)
        return j

    def handle_data(self, data) -> None:
        if not self._buf:  # first data event of a new string node
            self._run_start = None
        if self._run_start is None and data.strip():
            self._run_start = self._apos
        self._buf.append(data)

    def text(self, data) -> None:
        if self._run_start is not None:
            seg = self._html[self._run_start : self._apos]
            st = self._run_start + (len(seg) - len(seg.lstrip()))
            en = self._run_start + len(seg.rstrip())
            if en > st:
                if self._blk_start is None:
                    self._blk_start = st
                self._blk_end = en
        super().text(data)

    def _flush(self) -> None:
        n0 = len(self.blocks)
        super()._flush()
        if len(self.blocks) > n0:
            self.spans.append((self._blk_start, self._blk_end))
        self._blk_start = None
        self._blk_end = None


def segment_blocks_with_spans(
    html: Optional[str],
) -> List[tuple]:
    """Segment a page into blocks WITH source spans: one
    ``(Block, (start, end))`` per block — ``(None, None)`` span when the
    block's text never appeared as a trackable source run (defensive;
    does not occur for well-formed input). Same tolerance contract as
    ``segment_blocks``."""
    if not html:
        return []
    w = _SpanWalker(html).run(html)
    # blocks/spans stay aligned because _flush appends to both
    return list(zip(w.blocks, w.spans))
