"""Pure-Python HTML extraction core.

Reproduces the reference extraction semantics (tribeca-insights,
``tribeca_insights/text_utils.py:119-135`` ``extract_visible_text`` and
``tribeca_insights/crawler.py:60-101`` metadata extraction) WITHOUT
BeautifulSoup: a single pass over :class:`html.parser.HTMLParser` events —
the exact same stdlib tokenizer bs4's ``html.parser`` tree builder consumes —
replicating the handful of tree-building decisions bs4 makes on top of it:

* end tags pop the open-tag stack up to the nearest matching start tag and
  are ignored when unmatched (bs4 ``BeautifulSoup._popToTag``);
* consecutive character-data events merge into one string node
  (bs4 ``BeautifulSoup.endData``);
* comments / doctype / CDATA / processing instructions are never part of
  ``get_text`` output (bs4 ≥4.9 ``interesting_string_types`` is the exact
  ``NavigableString`` type);
* ``<script>``/``<style>`` content is never part of ``get_text`` output
  (bs4 ``string_containers`` types `Script`/`Stylesheet`; the reference
  additionally ``decompose()``s them — same observable result);
* visible text = text nodes outside any ``script/style/header/footer/nav``
  subtree (the reference decomposes those five: text_utils.py:130), joined
  with a single space, whitespace-collapsed, stripped (text_utils.py:132-134);
* metadata (title / meta description / headings / images / links) is
  extracted from the FULL tree — the reference parses a *fresh, undecomposed*
  soup for metadata (crawler.py:143-146), so e.g. headings inside ``<nav>``
  ARE reported while their text is absent from the visible text.

This module is dependency-free and is used both by the Spark pandas UDFs
(:mod:`tribeca_insights_spark.operators.extract`) and by the golden-fixture
oracle in tests, with behavior pinned by the reference's own test
expectations (tests/test_text_utils.py:98-111, tests/test_crawler.py:11-41).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field
from html.parser import HTMLParser
from typing import Dict, List, Optional, Set, Tuple
from urllib.parse import urljoin, urlparse

# Tags whose whole subtree is removed before visible-text extraction
# (reference: text_utils.py:130).
DECOMPOSED_TAGS = frozenset({"script", "style", "header", "footer", "nav"})

# Raw-text ("CDATA") elements: their content is a string-container type in
# bs4 and never appears in get_text output even on the undecomposed tree.
RAWTEXT_TAGS = frozenset({"script", "style"})

# The other bs4 string containers: only text whose immediate parent is one
# of these is typed (and so left out of get_text).
_STRING_CONTAINERS = frozenset({"template", "rt", "rp"})

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

_HEADING_RE = re.compile(r"^h[1-6]$")
_HEADING_LEVEL = {f"h{i}": i for i in range(1, 7)}  # dict beats regex 5×
_WS_RE = re.compile(r"\s+")

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
        # this extractor never reads positions — skip the bookkeeping.
        return j


class _Walker(FastTagPaths, HTMLParser):
    """Single-pass event consumer building every extraction output at once."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: List[str] = []  # open non-void tags, bs4-style
        self._buf: List[str] = []  # pending character data (merged node)
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

    # -- bs4-style data-node merging -------------------------------------
    def _end_data(self) -> None:
        if not self._buf:
            return
        data = "".join(self._buf)
        self._buf.clear()
        if self._t_stack is not None:
            # inside the first <title>: every string child (even typed
            # Script/Stylesheet containers) is a tree child for `.string`
            self._t_stack[-1].append(data)
        in_rawtext = any(t in RAWTEXT_TAGS for t in self.stack)
        if in_rawtext:
            return  # Script/Stylesheet string containers: never in get_text
        if self.stack and self.stack[-1] in _STRING_CONTAINERS:
            # bs4 >= 4.9 string containers: text whose IMMEDIATE parent is
            # <template>/<rt>/<rp> is a TemplateString/RubyTextString/
            # RubyParenthesisString — excluded from get_text by the
            # exact-type check (deeper-nested text is a plain
            # NavigableString and stays visible)
            return
        if not any(t in DECOMPOSED_TAGS for t in self.stack):
            self.visible.append(data)
        for _level, _depth, parts, _slot in self._open_headings:
            parts.append(data)

    # -- tag events --------------------------------------------------------
    def handle_starttag(self, tag: str, attrs: List[Tuple[str, Optional[str]]]) -> None:
        self._end_data()
        ad: Dict[str, Optional[str]] = {}
        for k, v in attrs:  # duplicate attribute: last wins (bs4 default)
            # bs4 handle_starttag: "Change None attribute values to ''"
            # — a valueless attribute (<a href>) is present-with-empty,
            # not absent (find_all(href=True) matches it)
            ad[k] = v if v is not None else ""
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
        if tag in VOID_TAGS:
            return
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
        self.stack.append(tag)

    def handle_startendtag(self, tag: str, attrs: List[Tuple[str, Optional[str]]]) -> None:
        # <tag/> → bs4 html.parser: start + immediate end
        self.handle_starttag(tag, attrs)
        if tag not in VOID_TAGS:
            self.handle_endtag(tag)

    def handle_endtag(self, tag: str) -> None:
        self._end_data()
        if tag in VOID_TAGS:
            return
        # bs4 _popToTag: find nearest matching open tag; ignore stray end tags
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i] == tag:
                new_depth = i
                del self.stack[i:]
                self._close_collectors(new_depth)
                return
        # unmatched end tag → ignored

    def close(self) -> None:  # EOF: implicit close of everything still open
        super().close()
        self._end_data()
        self.stack.clear()
        self._close_collectors(0)

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

    def _close_collectors(self, depth: int) -> None:
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

    # -- non-text events: never part of get_text, but Comment/Doctype/
    # CData/PI are NavigableString subclasses in bs4 — they ARE children,
    # and `.string` returns a lone one (safe_strip then strips it)
    def _non_text_node(self, data: str) -> None:
        self._end_data()
        if self._t_stack is not None:
            self._t_stack[-1].append(data)

    def handle_comment(self, data: str) -> None:
        self._non_text_node(data)

    def handle_decl(self, decl: str) -> None:
        self._non_text_node(decl)

    def handle_pi(self, data: str) -> None:
        self._non_text_node(data)

    def unknown_decl(self, data: str) -> None:
        self._non_text_node(data)

    def handle_data(self, data: str) -> None:
        self._buf.append(data)


def parse_page(html: str) -> PageExtract:
    """Parse once; return every extraction output the reference computes."""
    w = _Walker()
    try:
        w.feed(html)
        w.close()
    except Exception:
        # html.parser raises only on truly pathological input; mirror the
        # reference's behavior of producing a best-effort page (bs4 recovers).
        w._end_data()
        w._close_collectors(0)
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
