"""HTML table extraction — ``<table>`` → rows of cell texts.

The reference extracts flat visible text only (crawler.py:163); tables
collapse into word soup. For a training-data / analytics pipeline the
tabular structure IS the signal (relational web extraction — WebTables,
Cafarella 2008): this walker recovers every table as an ordered list of
rows, each row an ordered list of cell texts.

Semantics (browser-shaped, deterministic):
- tables are numbered in document order of their ``<table>`` open tags;
- character data belongs to the INNERMOST open cell, so a table nested
  inside a ``<td>`` keeps its own rows and contributes nothing to the
  outer cell (its text is structure, not content, of the outer table);
- an unclosed ``<td>``/``<tr>`` is auto-closed by the next ``<td>`` or
  ``<tr>`` (the html5 tree-builder recovery browsers apply), and any end
  tag that pops it closes it too; ``<th>`` is a cell like ``<td>``;
- typed text (script/style content, ruby ``rt``/``rp`` annotations) is
  dropped, same as the extractor;
- cell text is its string nodes stripped and joined with a single space.

Same bs4 tree events (:class:`.tree.TreeWalker`) as the other walkers, one
pass per page, tolerant of broken markup (never raises).
"""

from __future__ import annotations

from typing import List, Optional

from .tree import TreeWalker

_CELL_TAGS = frozenset({"td", "th"})


class _TableCtx:
    __slots__ = ("rows", "cur_row", "cur_cell")

    def __init__(self) -> None:
        self.rows: List[List[str]] = []
        self.cur_row: Optional[List[str]] = None
        self.cur_cell: Optional[List[str]] = None


class _TableWalker(TreeWalker):
    def __init__(self) -> None:
        super().__init__()
        self.tables: List[List[List[str]]] = []
        self._stack: List[_TableCtx] = []  # open <table> elements

    # -- cell/row lifecycle -------------------------------------------------
    def _close_cell(self, t: _TableCtx) -> None:
        if t.cur_cell is None:
            return
        text = " ".join(
            s for s in (p.strip() for p in t.cur_cell) if s
        )
        if t.cur_row is None:  # cell outside any <tr>: implicit row
            t.cur_row = []
        t.cur_row.append(text)
        t.cur_cell = None

    def _close_row(self, t: _TableCtx) -> None:
        self._close_cell(t)
        if t.cur_row is not None:
            t.rows.append(t.cur_row)
            t.cur_row = None

    # -- events ---------------------------------------------------------------
    def start(self, tag, attrs) -> None:
        if tag == "table":
            ctx = _TableCtx()
            self._stack.append(ctx)
            self.tables.append(ctx.rows)
        elif self._stack:
            t = self._stack[-1]
            if tag == "tr":
                self._close_row(t)
                t.cur_row = []
            elif tag in _CELL_TAGS:
                self._close_cell(t)
                t.cur_cell = []

    def end(self, depth) -> None:
        for tag in reversed(self.stack[depth:]):  # innermost first
            if not self._stack:
                return
            t = self._stack[-1]
            if tag == "table":
                self._close_row(t)
                self._stack.pop()
            elif tag == "tr":
                self._close_row(t)
            elif tag in _CELL_TAGS:
                self._close_cell(t)

    def text(self, data) -> None:
        if self._stack:
            t = self._stack[-1]
            if t.cur_cell is not None and data.strip():
                t.cur_cell.append(data)


def extract_tables(html: Optional[str]) -> List[List[List[str]]]:
    """All tables of a page: ``tables[table_idx][row_idx][cell_idx]`` —
    empty list for None/empty/table-free/broken input (never raises)."""
    if not html:
        return []
    return _TableWalker().run(html).tables
