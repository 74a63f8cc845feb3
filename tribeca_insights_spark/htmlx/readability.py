"""Readability-style main-content extraction (north_star: "DOM-tree
heuristics over parsed trees, link-density and text-density scoring,
readability-style node classification").

This is the second extractor in the engine, complementary to
:mod:`.extractor` (which reproduces the reference CLI byte-for-byte and is
the parity surface): here the goal is *main content* — the article body
with boilerplate (nav chrome, sidebars, comment sections, link farms)
classified out, the way arc90-readability-family algorithms do it. lxml is
not available in this environment, so the DOM is built from the same bs4
tree events (:class:`.tree.TreeWalker`) the parity extractor uses: one
ordered child list per element, merged string nodes, typed strings
(script/style content, ruby ``rt``/``rp`` annotations) left out.

Heuristics (classic readability family, tuned small):

* candidate containers: ``div section article main td li blockquote body``;
* each paragraph-ish block (``p``, text-bearing ``div``) contributes
  ``1 + min(text_len // 100, 3) + commas`` points to its parent and half
  to its grandparent — text mass and punctuation indicate prose;
* class/id hints: ``article|body|content|entry|main|page|post|text`` →
  +25, ``comment|combx|disqus|foot|header|menu|meta|nav|rss|shoutbox|
  sidebar|sponsor|ad-|banner|promo|related|scroll|share|shopping|tags|
  widget`` → −25 (node classification);
* final score scaled by ``1 − link_density`` (anchor-text chars / text
  chars) — link farms die here;
* winner's visible text is emitted with the same whitespace collapse the
  parity extractor uses, so downstream tokenization is shared.

The Spark surface is a struct-returning pandas UDF
(:func:`tribeca_insights_spark.operators.readability.extract_main`),
Arrow-batched like every other extraction op.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from .tree import VOID_TAGS, TreeWalker

CANDIDATE_TAGS = frozenset(
    {"div", "section", "article", "main", "td", "li", "blockquote", "body"}
)
# nodes whose subtree never counts as content
STRIP_TAGS = frozenset({"script", "style", "noscript", "template"})

_POSITIVE_RE = re.compile(
    r"article|body|content|entry|main|page|post|text", re.I
)
_NEGATIVE_RE = re.compile(
    r"comment|combx|disqus|foot|header|menu|meta|nav|rss|shoutbox|sidebar"
    r"|sponsor|ad-|banner|promo|related|scroll|share|shopping|tags|widget",
    re.I,
)


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict, parent: "Optional[Node]"):
        self.tag = tag
        self.attrs = attrs
        # element children (Node) and string nodes (str), document order
        self.children: list = []
        self.parent = parent


class _TreeBuilder(TreeWalker):
    """Materializes the core's events as a tree."""

    def __init__(self) -> None:
        super().__init__()
        self.root = Node("#root", {}, None)
        self._nodes: List[Node] = [self.root]  # root + self.stack's elements

    def start(self, tag, attrs):
        node = Node(tag, attrs, self._nodes[-1])
        self._nodes[-1].children.append(node)
        if tag not in VOID_TAGS:
            self._nodes.append(node)

    def end(self, depth):
        del self._nodes[depth + 1:]

    def text(self, data):
        self._nodes[-1].children.append(data)


def build_tree(html: str) -> Node:
    return _TreeBuilder().run(html).root


def node_text_stats(node: Node) -> Tuple[str, int, int]:
    """(collapsed_text, text_len, link_text_len) for a subtree."""
    out: List[str] = []
    links: List[str] = []
    todo = [(node, False)]
    while todo:
        n, in_link = todo.pop()
        if isinstance(n, str):
            out.append(n)
            if in_link:
                links.append(n)
        elif n.tag not in STRIP_TAGS:
            in_link = in_link or n.tag == "a"
            todo.extend((c, in_link) for c in reversed(n.children))
    text = " ".join(" ".join(out).split())
    link_len = len(" ".join(" ".join(links).split()))
    return text, len(text), link_len


def _class_weight(node: Node) -> int:
    w = 0
    hint = f"{node.attrs.get('class', '')} {node.attrs.get('id', '')}"
    if _POSITIVE_RE.search(hint):
        w += 25
    if _NEGATIVE_RE.search(hint):
        w -= 25
    return w


def _para_score(text: str) -> float:
    n = len(text)
    if n < 25:  # too short to be prose
        return 0.0
    return 1.0 + min(n // 100, 3) + text.count(",")


def score_tree(root: Node) -> List[Tuple[Node, float]]:
    """Walk once; paragraphs push score to parent/grandparent; return
    scored candidate containers."""
    scores: dict = {}

    todo = [root]  # iterative pre-order: adversarial pages nest 1000 deep
    while todo:
        node = todo.pop()
        if node.tag in STRIP_TAGS:
            continue
        texts = [ch for ch in node.children if isinstance(ch, str)]
        if node.tag == "p" or (
            node.tag == "div" and texts and not any(
                isinstance(ch, Node) and ch.tag in CANDIDATE_TAGS
                for ch in node.children
            )
        ):
            direct = " ".join(" ".join(texts).split())
            s = _para_score(direct)
            if s > 0:
                parent = node.parent
                if parent is not None:
                    if parent not in scores:
                        scores[parent] = float(_class_weight(parent))
                    scores[parent] += s
                    gp = parent.parent
                    if gp is not None:
                        if gp not in scores:
                            scores[gp] = float(_class_weight(gp))
                        scores[gp] += s / 2.0
        todo.extend(
            ch for ch in reversed(node.children) if isinstance(ch, Node)
        )

    out = []
    for node, s in scores.items():
        if node.tag not in CANDIDATE_TAGS and node.tag != "#root":
            continue
        text, n, link_len = node_text_stats(node)
        if n == 0:
            continue
        link_density = link_len / n
        out.append((node, s * (1.0 - link_density)))
    out.sort(key=lambda t: -t[1])
    return out


def extract_main_content(html: str) -> dict:
    """Best candidate's text + diagnostics; falls back to whole-document
    text when nothing scores (short pages)."""
    root = build_tree(html)
    ranked = score_tree(root)
    if ranked:
        node, score = ranked[0]
        text, n, link_len = node_text_stats(node)
        return {
            "main_text": text,
            "score": round(score, 3),
            "link_density": round(link_len / n, 4) if n else 0.0,
            "node_tag": node.tag,
            "node_hint": (
                f"{node.attrs.get('class', '')} {node.attrs.get('id', '')}"
            ).strip(),
        }
    text, n, link_len = node_text_stats(root)
    return {
        "main_text": text,
        "score": 0.0,
        "link_density": round(link_len / n, 4) if n else 0.0,
        "node_tag": "#root",
        "node_hint": "",
    }
