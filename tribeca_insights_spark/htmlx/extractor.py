"""Pure-Python HTML extraction core.

Reproduces the reference extraction semantics (tribeca-insights,
``tribeca_insights/text_utils.py:119-135`` ``extract_visible_text`` and
``tribeca_insights/crawler.py:60-101`` metadata extraction) WITHOUT
BeautifulSoup: a single pass over the bs4 ``html.parser`` tree events of
:class:`.tree.TreeWalker`, which owns bs4's tree rules (pop-to-tag, void
tags, data merging, string containers, non-text nodes, EOF close). On top
of that event stream this walker makes the reference's own decisions:

* visible text = untyped string nodes outside any
  ``script/style/header/footer/nav`` subtree (the reference decomposes
  those five: text_utils.py:130), joined with a single space,
  whitespace-collapsed, stripped (text_utils.py:132-134);
* metadata (title / meta description / headings / images / links) is
  extracted from the FULL tree — the reference parses a *fresh, undecomposed*
  soup for metadata (crawler.py:143-146), so e.g. headings inside ``<nav>``
  ARE reported while their text is absent from the visible text;
* the title is bs4 ``Tag.string`` of the first ``<title>``, which sees
  typed strings and comments too.

This module is dependency-free and is used both by the Spark pandas UDFs
(:mod:`tribeca_insights_spark.operators.extract`) and by the golden-fixture
oracle in tests, with behavior pinned by the reference's own test
expectations (tests/test_text_utils.py:98-111, tests/test_crawler.py:11-41).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Set, Tuple
from urllib.parse import urljoin, urlparse

from .tree import VOID_TAGS, TreeWalker

# Tags whose whole subtree is removed before visible-text extraction
# (reference: text_utils.py:130).
DECOMPOSED_TAGS = frozenset({"script", "style", "header", "footer", "nav"})

_HEADING_LEVEL = {f"h{i}": i for i in range(1, 7)}  # dict beats regex 5×

# meta property/name → SEO extension field (template keys the reference
# never computes; see PageExtract). One dict lookup per <meta> tag.
_SEO_META_KEYS = {
    "og:title": "og_title",
    "og:description": "og_description",
    "og:image": "og_image",
    "og:url": "og_url",
    "robots": "meta_robots",
    "twitter:title": "twitter_title",
    "twitter:description": "twitter_description",
    "twitter:image": "twitter_image",
}


@dataclass
class PageExtract:
    """All per-page fields the reference computes (crawler.py:163-175)."""

    text: str = ""
    title: str = "(no title)"
    meta_description: str = ""
    headings: List[str] = field(default_factory=list)
    images: List[Dict[str, str]] = field(default_factory=list)
    links: List[str] = field(default_factory=list)  # all hrefs, doc order
    # SEO extension fields — keys the reference's project-JSON template
    # ships but never computes (docs/examples/project_DOMAIN_template.json:
    # 17-60: og_*, canonical, meta_robots, hreflang, twitter_*). First
    # occurrence wins (same rule as meta description); absent → "".
    canonical: str = ""
    og_title: str = ""
    og_description: str = ""
    og_image: str = ""
    og_url: str = ""
    meta_robots: str = ""
    twitter_title: str = ""
    twitter_description: str = ""
    twitter_image: str = ""
    hreflang: List[Dict[str, str]] = field(default_factory=list)
    # raw (src, alt) attr values with missing-vs-empty preserved — the
    # markdown exporter's defaults differ from page_data's (markdown.py:75-78
    # uses src default "–"; crawler.py:86-89 uses ""): sinks need the raw view
    images_raw: List[Tuple[Optional[str], Optional[str]]] = field(
        default_factory=list
    )


class _Walker(TreeWalker):
    """Single-pass event consumer building every extraction output at once."""

    def __init__(self) -> None:
        super().__init__()
        self.visible: List[str] = []  # string nodes outside decomposed subtrees
        # title capture: first <title>; emulates bs4 `.string` exactly —
        # None unless the element has exactly one child, a single string
        # child of ANY kind (text, Comment, Doctype, CData, PI) is
        # returned, and a single *element* child recurses (bs4
        # element.py Tag.string). The subtree is captured as a minimal
        # nested-list tree: elements are ('e', children) tuples, strings
        # are str — tiny (title-sized), built only inside the first
        # <title>, and resolved iteratively at close (adversarial pages
        # nest hundreds deep).
        self.title_value: Optional[str] = None
        self._title_seen = False
        self._title_depth: Optional[int] = None
        self._t_root: List[object] = []
        self._t_stack: Optional[List[List[object]]] = None
        self.meta_description: Optional[str] = None
        # headings: list of (hashes_prefix, [string nodes]) being collected;
        # supports (degenerate) nested headings via a stack of collectors
        self.headings: List[str] = []
        # (level, depth, parts, slot): slot = reserved index in
        # self.headings — bs4 find_all order is DOCUMENT order (start
        # tags), not close order, so nested headings fill pre-reserved
        # slots instead of appending at close
        self._open_headings: List[Tuple[int, int, List[str], int]] = []
        self.images: List[Tuple[Optional[str], Optional[str]]] = []  # raw attrs
        self.links: List[str] = []
        # SEO extension collectors: first occurrence wins (the meta-
        # description rule applied uniformly); hreflang keeps doc order
        self.seo: Dict[str, str] = {}
        self.hreflang: List[Tuple[str, str]] = []

    def text(self, data: str) -> None:
        if self._t_stack is not None:
            self._t_stack[-1].append(data)
        if not any(t in DECOMPOSED_TAGS for t in self.stack):
            self.visible.append(data)
        for _level, _depth, parts, _slot in self._open_headings:
            parts.append(data)

    def node(self, data: str) -> None:
        # typed strings and Comment/Doctype/CData/PI are never part of
        # get_text, but they ARE children: `.string` returns a lone one
        # (safe_strip then strips it)
        if self._t_stack is not None:
            self._t_stack[-1].append(data)

    def start(self, tag: str, ad: Dict[str, str]) -> None:
        if tag == "img":
            self.images.append((ad.get("src"), ad.get("alt")))
        elif tag == "a":
            href = ad.get("href")
            if href is not None:
                self.links.append(href)
        elif tag == "meta":
            if (
                self.meta_description is None
                and ad.get("name") == "description"
            ):
                content = ad.get("content")
                self.meta_description = (
                    content.strip() if isinstance(content, str) else ""
                )
            key = _SEO_META_KEYS.get(ad.get("property") or ad.get("name"))
            if key is not None and key not in self.seo:
                c = ad.get("content")
                self.seo[key] = c.strip() if isinstance(c, str) else ""
        elif tag == "link":
            rel = (ad.get("rel") or "").lower().split()
            if "canonical" in rel:
                if "canonical" not in self.seo:
                    href = ad.get("href")
                    self.seo["canonical"] = (
                        href.strip() if isinstance(href, str) else ""
                    )
            elif "alternate" in rel:
                hl = ad.get("hreflang")
                if hl:
                    self.hreflang.append((hl, ad.get("href") or ""))
        if self._t_stack is not None:
            child: List[object] = []
            self._t_stack[-1].append(("e", child))
            if tag not in VOID_TAGS:
                self._t_stack.append(child)
        if tag == "title" and not self._title_seen:
            self._title_seen = True
            self._title_depth = len(self.stack)
            self._t_root = []
            self._t_stack = [self._t_root]
        level = _HEADING_LEVEL.get(tag)
        if level is not None:
            self.headings.append("")  # reserve the document-order slot
            self._open_headings.append(
                (level, len(self.stack), [], len(self.headings) - 1)
            )

    def _resolve_title_string(self) -> Optional[str]:
        """bs4 ``Tag.string`` on the captured title subtree: None unless
        exactly one child; a lone string child (any kind) is the value; a
        lone element child recurses — iteratively (deep adversarial
        nesting)."""
        children: List[object] = self._t_root
        while True:
            if len(children) != 1:
                return None
            c = children[0]
            if isinstance(c, str):
                return c
            children = c[1]  # ('e', children) element node

    def end(self, depth: int) -> None:
        if self._title_depth is not None:
            if depth <= self._title_depth:
                self.title_value = self._resolve_title_string()
                self._title_depth = None
                self._t_stack = None
            else:
                # pops inside the open title subtree: keep the capture
                # stack aligned with the element stack
                del self._t_stack[depth - self._title_depth:]
        while self._open_headings and depth <= self._open_headings[-1][1]:
            level, _d, parts, slot = self._open_headings.pop()
            # bs4 get_text(strip=True): strip each string node, drop empties,
            # join with "" (crawler.py:73-76)
            text = "".join(p.strip() for p in parts if p.strip())
            self.headings[slot] = "#" * level + " " + text


def parse_page(html: str) -> PageExtract:
    """Parse once; return every extraction output the reference computes."""
    w = _Walker().run(html)
    out = PageExtract()
    # visible text: join string nodes with " ", collapse \s+, strip
    # (text_utils.py:132-134). " ".join(s.split()) is byte-identical to
    # re.sub(r"\s+"," ",s).strip() — str.split()'s whitespace set equals
    # \s's for every Unicode codepoint (pinned by
    # tests/test_extractor.py::test_whitespace_collapse_equivalence) —
    # and ~3× faster on page-sized strings.
    out.text = " ".join(" ".join(w.visible).split())
    if w._title_seen:
        out.title = w.title_value.strip() if isinstance(w.title_value, str) else ""
    else:
        out.title = "(no title)"  # crawler.py:68
    out.meta_description = (
        w.meta_description if w.meta_description is not None else ""
    )
    out.headings = w.headings
    out.images_raw = w.images
    # page_data view (crawler.py:86-89): missing src → "", alt stripped/""
    out.images = [
        {
            "src": src if src is not None else "",
            "alt": alt.strip() if isinstance(alt, str) else "",
        }
        for src, alt in w.images
    ]
    out.links = w.links
    out.canonical = w.seo.get("canonical", "")
    out.og_title = w.seo.get("og_title", "")
    out.og_description = w.seo.get("og_description", "")
    out.og_image = w.seo.get("og_image", "")
    out.og_url = w.seo.get("og_url", "")
    out.meta_robots = w.seo.get("meta_robots", "")
    out.twitter_title = w.seo.get("twitter_title", "")
    out.twitter_description = w.seo.get("twitter_description", "")
    out.twitter_image = w.seo.get("twitter_image", "")
    out.hreflang = [
        {"hreflang": hl, "href": href} for hl, href in w.hreflang
    ]
    return out


def extract_visible_text(html: str) -> str:
    """Reference ``extract_visible_text`` (text_utils.py:119-135)."""
    return parse_page(html).text


def external_links(links: List[str], domain: str) -> List[str]:
    """Reference external-link rule (crawler.py:93-101): keep hrefs that
    start with ``http`` and do NOT contain ``domain`` as a substring
    (quirk preserved: substring test, not netloc comparison). Returns the
    sorted de-duplicated list (crawler.py:172)."""
    return sorted({h for h in links if h.startswith("http") and domain not in h})


def internal_links(links: List[str], base_url: str, domain: str) -> List[str]:
    """Legacy internal-link rule (scripts/main.py:111-120): href starts with
    '/' or contains the domain → resolve against base_url, keep when the
    netloc (www-stripped) equals domain, drop #fragments. Sorted distinct.

    Hot path: root-relative hrefs without dot segments resolve by plain
    concatenation (urljoin's RFC-3986 merge reduces to scheme://netloc+href
    there, and the netloc test is constant per page) — urljoin/urlparse
    measured ~20% of whole-page extraction time before this."""
    out: Set[str] = set()
    base_parts = None  # (scheme, netloc, netloc-matches-domain), lazy
    for href in links:
        if (
            href.startswith("/")
            and not href.startswith("//")
            and "/./" not in href
            and "/../" not in href
            and not href.endswith("/.")
            and not href.endswith("/..")
            and "\t" not in href
            and "\n" not in href
            and "\r" not in href
        ):
            if base_parts is None:
                p = urlparse(base_url)
                base_parts = (
                    p.scheme,
                    p.netloc,
                    p.netloc.replace("www.", "") == domain,
                )
            scheme, netloc, ok = base_parts
            if ok:
                out.add(f"{scheme}://{netloc}{href}".split("#", 1)[0])
        elif href.startswith("/") or domain in href:
            # absolute-url fast path: clean scheme://netloc[/...] hrefs pass
            # through urljoin unchanged, and netloc is the span up to the
            # first /?#. Guards bail to the exact path for anything urllib
            # would normalize (dot segments, embedded tab/CR/LF, which
            # urlsplit strips per WHATWG).
            if (
                href.startswith(("http://", "https://"))
                and "/./" not in href
                and "/../" not in href
                and not href.endswith(("/.", "/.."))
                and "\t" not in href
                and "\n" not in href
                and "\r" not in href
            ):
                scheme_end = href.index("//") + 2
                end = len(href)
                for ch in "/?#":
                    pos = href.find(ch, scheme_end)
                    if pos != -1 and pos < end:
                        end = pos
                netloc = href[scheme_end:end]
                if netloc.replace("www.", "") == domain:
                    out.add(href.split("#", 1)[0])
                continue
            full = urljoin(base_url, href)
            p = urlparse(full)
            if p.netloc.replace("www.", "") == domain:
                out.add(full.split("#", 1)[0])
    return sorted(out)


def page_hash(text: str) -> str:
    """sha256 hexdigest of the visible text (crawler.py:162)."""
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def url_domain(url: str) -> str:
    """Hostname used for the internal/external link rule, per the reference's
    own tests (tests/test_crawler.py:11-41 pass 'mysite.com')."""
    return urlparse(url).netloc
