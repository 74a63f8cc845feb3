"""Extraction-core tests.

Every expected value here is pinned either by the reference's own test
suite (cited per test) or by executing the reference semantics by hand on
the HTML shown — these are the normative behavior pins for byte-identical
extracted text (BASELINE.json north_rule)."""

from tribeca_insights_spark.htmlx.extractor import (
    external_links,
    extract_visible_text,
    internal_links,
    page_hash,
    parse_page,
)


# --- reference tests/test_text_utils.py:98-111 -------------------------
def test_extract_visible_text_reference_pin():
    html = (
        "<html><head><style>body {}</style></head><body>"
        "<script>alert(1);</script><p>Hello World!</p></body></html>"
    )
    text = extract_visible_text(html)
    assert "Hello World!" in text
    assert "alert" not in text
    assert "body" not in text


def test_extract_visible_text_whitespace_collapse():
    html = "<p>Hello   <script>ignore</script>   World</p>"
    assert extract_visible_text(html) == "Hello World"


# --- reference tests/test_crawler.py:18-41 ------------------------------
def test_metadata_reference_pin():
    html = (
        "<html><head><title>T</title><meta name='description' content='d'></head>"
        "<body><h1>H1</h1><h2>H2</h2></body></html>"
    )
    p = parse_page(html)
    assert p.title == "T"
    assert p.meta_description == "d"
    assert p.headings == ["# H1", "## H2"]


def test_images_and_external_links_reference_pin():
    html = (
        "<img src='img.png' alt='a'><a href='https://ext.com'>e</a>"
        "<a href='https://mysite.com/page'>in</a>"
    )
    p = parse_page(html)
    assert p.images == [{"src": "img.png", "alt": "a"}]
    assert external_links(p.links, "mysite.com") == ["https://ext.com"]


def test_external_link_substring_quirk():
    # crawler.py:93-101 substring test: a link to another site that merely
    # mentions the domain in a query param counts as internal. Faithful.
    links = ["https://other.com/?ref=mysite.com", "https://other.com/x"]
    assert external_links(links, "mysite.com") == ["https://other.com/x"]


# --- decompose scope: header/footer/nav text removed, metadata kept -----
def test_nav_text_removed_but_nav_headings_kept():
    # The reference parses a FRESH soup for metadata (crawler.py:143-146)
    # and only decomposes on the visible-text soup (text_utils.py:128-131),
    # so nav content is absent from text yet present in headings/links.
    html = (
        "<body><nav><h1>NavTitle</h1><a href='https://ext.com/n'>n</a></nav>"
        "<header>masthead</header><footer>colophon</footer>"
        "<p>Real content</p></body>"
    )
    p = parse_page(html)
    assert p.text == "Real content"
    assert p.headings == ["# NavTitle"]
    assert "https://ext.com/n" in p.links


def test_nested_decomposed_and_implicit_close():
    # </nav> implicitly closes the unclosed <header> (bs4 _popToTag).
    html = "<nav><header>x</nav>after <p>more</p>"
    assert extract_visible_text(html) == "after more"


def test_unmatched_end_tag_ignored():
    assert extract_visible_text("</nav>hello <b>world</b>") == "hello world"


def test_unclosed_nav_swallows_rest():
    assert extract_visible_text("<p>keep</p><nav>menu <p>lost") == "keep"


# --- bs4 get_text niceties ----------------------------------------------
def test_comments_doctype_excluded():
    html = "<!DOCTYPE html><body><!-- hidden -->shown</body>"
    assert extract_visible_text(html) == "shown"


def test_entities_converted():
    assert extract_visible_text("<p>AT&amp;T &gt; rest</p>") == "AT&T > rest"


def test_separator_between_elements():
    # get_text(separator=" ") puts a space between adjacent text nodes even
    # with no whitespace in the markup
    assert extract_visible_text("<p>a</p><p>b</p>") == "a b"
    assert extract_visible_text("<span>a</span>b") == "a b"


def test_title_edge_cases():
    assert parse_page("<body>no title here</body>").title == "(no title)"
    # title tag with element child → bs4 .string is None → safe_strip → ""
    assert parse_page("<title>He<b>llo</b></title>").title == ""
    assert parse_page("<title>  padded  </title>").title == "padded"
    # only the FIRST title counts
    assert parse_page("<title>first</title><title>second</title>").title == "first"


def test_meta_description_edge_cases():
    assert parse_page("<meta name='description'>").meta_description == ""
    assert (
        parse_page("<meta name='Description' content='X'>").meta_description == ""
    )  # attr VALUE match is case-sensitive in bs4 find
    assert (
        parse_page(
            "<meta name='description' content=' a '>"
            "<meta name='description' content='b'>"
        ).meta_description
        == "a"
    )  # first match wins (soup.find)


def test_heading_strip_join_semantics():
    # get_text(strip=True, separator=""): per-string strip, drop empties,
    # join with "" — "A " + <b>B</b> + " C" → "ABC" (quirk preserved)
    p = parse_page("<h1>A <b>B</b> C</h1>")
    assert p.headings == ["# ABC"]
    p2 = parse_page("<h3>  Deep  heading  </h3>")
    assert p2.headings == ["### Deep  heading"]


def test_heading_levels_and_order():
    p = parse_page("<h2>two</h2><h1>one</h1><h6>six</h6>")
    assert p.headings == ["## two", "# one", "###### six"]


def test_image_defaults():
    p = parse_page("<img alt=' pad '><img src='s'>")
    assert p.images == [{"src": "", "alt": "pad"}, {"src": "s", "alt": ""}]


def test_script_content_inside_heading_excluded():
    # bs4 ≥4.9: script strings are Script containers, excluded from get_text
    p = parse_page("<h1>Hi<script>var x=1;</script>There</h1>")
    assert p.headings == ["# HiThere"]


def test_internal_links_legacy_rule():
    # scripts/main.py:111-120
    links = [
        "/about#team",
        "https://www.mysite.com/contact",
        "https://ext.com/x",
        "mailto:a@b.c",
    ]
    got = internal_links(links, "https://mysite.com/", "mysite.com")
    assert got == ["https://mysite.com/about", "https://www.mysite.com/contact"]


def test_page_hash_sha256():
    assert (
        page_hash("Hello World")
        == "a591a6d40bf420404a011733cfb7b190d62c65bf0bcda32b57b277d9ad9f146e"
    )


def test_empty_and_garbage_html():
    assert extract_visible_text("") == ""
    assert extract_visible_text("plain text only") == "plain text only"
    p = parse_page("<<<>>> &unknownentity; <b")
    assert isinstance(p.text, str)


def test_internal_links_fast_path_equivalence():
    """The root-relative and absolute-url fast paths must agree exactly with
    the pure urljoin/urlparse reference semantics (scripts/main.py:111-120)
    on adversarial hrefs — dot segments, WHATWG-stripped control chars,
    userinfo, ports, repeated www., case, fragments, schemeless forms."""
    import random
    from urllib.parse import urljoin, urlparse

    def ref_impl(links, base_url, domain):
        out = set()
        for href in links:
            if href.startswith("/") or domain in href:
                full = urljoin(base_url, href)
                p = urlparse(full)
                if p.netloc.replace("www.", "") == domain:
                    out.add(full.split("#", 1)[0])
        return sorted(out)

    rng = random.Random(99)
    schemes = ["http://", "https://", "ftp://", ""]
    hosts = [
        "site.com", "www.site.com", "sub.site.com", "other.com",
        "site.com:8080", "user@site.com", "www.www.site.com", "SITE.com",
    ]
    paths = [
        "", "/", "/a", "/a/b.html", "/a/../b", "/./x", "/a%20b", "/a;p=1",
        "/q?x=1", "/p#f", "/\tq", "/a//b", "/..", "/.", "/x\ny", "/x\r",
        "//cdn.site.com/z",
    ]
    bases = [
        "https://site.com/d/p", "https://www.site.com", "http://site.com/",
    ]
    for _ in range(4000):
        href = (
            rng.choice(schemes) + rng.choice(hosts) + rng.choice(paths)
            if rng.random() < 0.7
            else rng.choice(paths)
        )
        base = rng.choice(bases)
        assert internal_links([href], base, "site.com") == ref_impl(
            [href], base, "site.com"
        ), (href, base)


def test_whitespace_collapse_equivalence():
    """" ".join(s.split()) must equal re.sub(r"\\s+", " ", s).strip() for
    every Unicode codepoint's whitespace-ness (parse_page relies on this).
    Sweeps the BMP (all White_Space chars live there) + random mixes."""
    import random
    import re

    ws_re = re.compile(r"\s+")
    for cp in range(0x10000):
        c = chr(cp)
        is_re_ws = bool(ws_re.fullmatch(c))
        is_split_ws = len(("a" + c + "b").split()) == 2
        assert is_re_ws == is_split_ws, hex(cp)
    rng = random.Random(5)
    pool = "ab \t\n\r\x0b\x0c\xa0  　日ç"
    for _ in range(2000):
        s = "".join(rng.choice(pool) for _ in range(rng.randint(0, 30)))
        assert " ".join(s.split()) == ws_re.sub(" ", s).strip(), repr(s)


def test_fast_tag_paths_equivalence():
    """The simple-tag fast paths must be event-identical to stdlib
    html.parser: compare a _Walker WITHOUT the mixin against the production
    one across the nasty corpus + adversarial tag shapes."""
    from html.parser import HTMLParser

    from tribeca_insights_spark.fixtures import gen_corpus
    from tribeca_insights_spark.htmlx.extractor import _Walker

    class SlowWalker(_Walker, HTMLParser):
        # re-expose stdlib parse paths (skip the FastTagPaths overrides)
        parse_starttag = HTMLParser.parse_starttag
        parse_endtag = HTMLParser.parse_endtag

    cases = [r["html"].decode() for r in gen_corpus(300, seed=11)] + [
        "<P>upper</P>",
        "<script>x<p></p>y</script>ok",
        "<p >spaced</p >",
        "<br>",
        "<title>t</title><style>s{}</style>body",
        "<script>a</ script>b</script>c",
        "<div>x</div >y",
        "<style>p{color:red}</style><p>vis</p>",
        "<script><!-- </script> --></script>tail",
        "<h1>head</h1><h2>two</h2>",
        "<div><p>unclosed <b>bold",
        "</stray></p><p>after stray ends</p>",
    ]
    for h in cases:
        fast, slow = _Walker().run(h), SlowWalker().run(h)
        assert fast.visible == slow.visible, h[:80]
        assert fast.headings == slow.headings, h[:80]
        assert fast.links == slow.links, h[:80]
        assert fast.images == slow.images, h[:80]
        assert fast.meta_description == slow.meta_description, h[:80]


def test_seo_extension_fields():
    """canonical/og_*/meta_robots/twitter_*/hreflang extraction: first
    occurrence wins (meta-description rule applied uniformly), multi-valued
    rel handled, non-hreflang alternates ignored, absent fields ''."""
    from tribeca_insights_spark.htmlx.extractor import parse_page

    h = (
        '<html><head><title>T</title>'
        '<link rel="canonical" href=" https://x.com/c ">'
        '<link rel="canonical" href="https://x.com/SECOND-IGNORED">'
        '<link rel="alternate" hreflang="en" href="https://x.com/en">'
        '<link rel="ALTERNATE stylesheet" hreflang="de" href="/de">'
        '<link rel="alternate" type="application/rss+xml" href="/feed">'
        '<meta property="og:title" content=" OG T ">'
        '<meta property="og:title" content="ignored">'
        '<meta property="og:image" content="https://x.com/o.png">'
        '<meta name="robots" content="noindex,nofollow">'
        '<meta name="twitter:description" content="tw d">'
        '</head><body>hi</body></html>'
    )
    p = parse_page(h)
    assert p.canonical == "https://x.com/c"  # first wins, stripped
    assert p.og_title == "OG T"
    assert p.og_image == "https://x.com/o.png"
    assert p.og_description == "" and p.og_url == ""  # absent → ''
    assert p.meta_robots == "noindex,nofollow"
    assert p.twitter_description == "tw d" and p.twitter_title == ""
    # rel is multi-valued + case-insensitive; rss alternate has no hreflang
    assert p.hreflang == [
        {"hreflang": "en", "href": "https://x.com/en"},
        {"hreflang": "de", "href": "/de"},
    ]
    # no SEO tags at all → all defaults
    q = parse_page("<p>plain</p>")
    assert q.canonical == "" and q.hreflang == [] and q.meta_robots == ""
