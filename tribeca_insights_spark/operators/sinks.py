"""Report sinks — reference exporter parity (SURVEY.md §2.1 S7-S16).

Two layers:

* **Render columns** — deterministic per-page report strings (Markdown
  report, page JSON) produced by Arrow-batched pandas UDFs, plus native
  projections for the line-oriented artifacts (keyword CSV, index.md,
  external_urls.md, visited-urls state rows). These are DataFrames: at scale
  they are written as partitioned tables (`df.write.partitionBy(...)`), never
  as one file per page.
* **Small-scale file emitter** — :func:`write_project_tree` materializes the
  reference CLI's exact on-disk project layout (pages_md/, pages_json/,
  index.md/json, external_urls.md/json, keyword_frequency CSV+JSON,
  visited_urls CSV+JSON, project_<slug>.json) for fixture-level diffing.
  Driver-side by design and documented as the fixture-parity path only.

Byte-layout sources (formats reimplemented from the observed output spec,
not copied): per-page Markdown ``exporters/markdown.py:34-128``; page JSON
``exporters/json.py:24-37`` over the page_data dict built at
``crawler.py:163-175`` (key order = construction order, ``word_frequency``
key order = first token occurrence via ``dict(Counter)``); index.md
``exporters/markdown.py:131-154``; external_urls.md ``exporters/csv.py:60-83``
(header ``exporters/constants.py``); keyword CSV ``exporters/csv.py:27-57``;
visited CSV ``storage.py:65-82``; project JSON ``exporters/json.py:150-230``.

Faithfully-pinned quirks (deviations are deliberate and noted):

* the reference Markdown exporter tokenizes with the DEFAULT language
  ('en') regardless of the crawl's ``--language`` (markdown.py re-tokenizes
  without passing language; fetch_and_process passes none) — reproduced;
* the reference writes the External Links section in Python *set* iteration
  order (markdown.py:107 joins over a set) — unstable across runs, so we pin
  ``sorted()`` (matching crawler.py:172's page_data ordering);
* Counter.most_common(50) tie order = first-occurrence — reproduced exactly
  (the UDF re-tokenizes, preserving stream order).
"""

from __future__ import annotations

import json
from collections import Counter
from typing import Dict, List, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType

from ..functions.slug import url_slug
from ..functions.tokenize import clean_and_tokenize
from ..htmlx.extractor import external_links, page_hash, parse_page, url_domain
from .extract import html_udf

JSON_DUMP_KWARGS = {"ensure_ascii": False, "indent": 2}


# ---------------------------------------------------------------------------
# per-page renderers (pure functions → pandas UDFs)
# ---------------------------------------------------------------------------


def render_page_markdown(url: str, html: str) -> str:
    """Full per-page Markdown report, byte-laid-out per markdown.py:34-128."""
    page = parse_page(html)
    dom = url_domain(url)
    ext = external_links(page.links, dom)
    # markdown.py tokenizes without a language arg → 'en' stopwords always
    tokens = clean_and_tokenize(page.text, "en", "compat")
    freq = Counter(tokens)
    # reference markdown.py:53-65: title/meta extraction failures degrade
    # to literal error markers, the rest of the report still renders
    try:
        title = page.title
    except (AttributeError, TypeError):
        title = "(error extracting title)"
    try:
        meta_description = page.meta_description
    except (AttributeError, TypeError):
        meta_description = "(error extracting description)"
    parts: List[str] = [
        f"# `{url}`\n\n",
        f"**Title**: {title}\n\n",
        f"**Meta Description**: {meta_description}\n\n",
        "## Headings\n",
        "\n".join(f"- {h}" for h in page.headings)
        if page.headings
        else "_No headings found._",
        "\n\n",
        "## Word Frequency (Top 50)\n",
    ]
    for word, n in freq.most_common(50):
        parts.append(f"- **{word}**: {n}\n")
    parts.append("\n")
    parts.append("## External Links\n")
    parts.append(
        "\n".join(f"- {link}" for link in ext)
        if ext
        else "_No external links found._"
    )
    parts.append("\n\n")
    image_lines = []
    for src, alt in page.images_raw:
        src_s = src if src is not None else "–"  # missing attr default
        alt_s = (alt.strip() if isinstance(alt, str) else "") or "_(no ALT)_"
        image_lines.append(f"- `src`: {src_s}\n  - alt: {alt_s}")
    parts.append("## Images with ALT\n")
    parts.append("\n".join(image_lines) if image_lines else "_No images found._\n")
    parts.append("\n")
    parts.append("## Cleaned Text\n")
    parts.append(f"```\n{page.text[:3000]}...\n```\n\n")
    parts.append("## Raw HTML\n")
    parts.append("```html\n")
    parts.append(html[:5000])
    parts.append("\n... (truncated)\n```\n\n")
    parts.append("---\n")
    parts.append(f"_Total words analyzed: {len(tokens)}_\n")
    return "".join(parts)


def build_page_data(url: str, html: str, lang: str) -> Dict:
    """The page_data record as a plain dict, key order = crawler.py:163-175."""
    page = parse_page(html)
    dom = url_domain(url)
    slug = url_slug(url)
    tokens = clean_and_tokenize(page.text, lang or "en", "compat")
    return {
        "url": url,
        "slug": slug,
        "title": page.title,
        "meta_description": page.meta_description,
        "headings": page.headings,
        "word_count": len(tokens),
        "word_frequency": dict(Counter(tokens)),  # first-occurrence order
        "images": page.images,
        "external_links": external_links(page.links, dom),
        "page_hash": page_hash(page.text),
        "md_filename": f"{slug}.md",
    }


def render_page_json(url: str, html: str, lang: str) -> str:
    """pages_json/<slug>.json body (json.py:24-37: ensure_ascii=False, indent=2)."""
    return json.dumps(build_page_data(url, html, lang), **JSON_DUMP_KWARGS)


def _page_markdown(html: str, url: Optional[str]) -> str:
    return render_page_markdown(url or "", html)


def _page_json(html: str, url: Optional[str], lang: Optional[str]) -> str:
    return render_page_json(url or "", html, lang or "")


def page_markdown_column(docs: DataFrame) -> Column:
    """Per-page Markdown report column over docs(url, html)."""
    return html_udf(docs, _page_markdown, StringType(), F.col("url"))


def page_json_column(docs: DataFrame) -> Column:
    """Per-page JSON body column over docs(url, html, lang)."""
    return html_udf(
        docs, _page_json, StringType(), F.col("url"), F.col("lang")
    )


# ---------------------------------------------------------------------------
# native line/row projections
# ---------------------------------------------------------------------------


def keyword_frequency_csv_lines(tf: DataFrame) -> DataFrame:
    """keyword_frequency CSV body lines `word,freq` (csv.py:40-53 layout;
    header line emitted by the file writer). Tokens are [a-zà-ÿ]+ so
    QUOTE_MINIMAL quoting is a no-op — plain concat is byte-exact."""
    return tf.select(
        "word",
        "freq",
        F.concat_ws(",", F.col("word"), F.col("freq").cast("string")).alias(
            "line"
        ),
    )


def index_markdown_lines(extracted: DataFrame, subdirectory: str = "pages_md") -> DataFrame:
    """index.md entry per page (markdown.py:131-154): slug-sorted
    `- [Slug As Title](pages_md/<slug>.md)`. Title-casing uses ``initcap``
    (JVM-side); for digit-leading slug words Python's ``str.title`` differs —
    the file emitter uses the Python form for byte parity."""
    return (
        extracted.select("slug")
        .distinct()
        .select(
            "slug",
            F.concat(
                F.lit("- ["),
                F.initcap(F.regexp_replace("slug", "-", " ")),
                F.lit(f"]({subdirectory}/"),
                F.col("slug"),
                F.lit(".md)"),
            ).alias("line"),
        )
        .orderBy("slug")
    )


def external_urls_markdown_doc(extracted: DataFrame) -> DataFrame:
    """One-row DataFrame: the complete external_urls.md document
    (csv.py:60-83; header constants.py MD_HEADER)."""
    from .tf import external_urls_global

    ext = external_urls_global(extracted)
    return ext.agg(
        F.concat(
            F.lit("# External URLs\n\n"),
            F.when(F.count("*") == 0, F.lit("_No external URLs found._\n")).otherwise(
                F.concat(
                    F.concat_ws(
                        "\n",
                        F.transform(
                            F.array_sort(F.collect_set("ext_url")),
                            lambda u: F.concat(F.lit("- "), u),
                        ),
                    ),
                    F.lit("\n"),
                )
            ),
        ).alias("doc")
    )


def visited_urls_rows(
    extracted: DataFrame, visit_date_col=None
) -> DataFrame:
    """State-table rows in the reference visited-CSV shape
    (storage.py:65: URL, Status, Data, MD File, JSON File); Status=1=done,
    Data = %Y-%m-%d visit date (crawler.py:253-260)."""
    date_col = (
        visit_date_col
        if visit_date_col is not None
        else F.date_format(F.col("warc_ts"), "yyyy-MM-dd")
    )
    return extracted.select(
        F.col("url").alias("URL"),
        F.lit(1).alias("Status"),
        date_col.alias("Data"),
        F.concat("slug", F.lit(".md")).alias("MD File"),
        F.concat("slug", F.lit(".json")).alias("JSON File"),
    )


# ---------------------------------------------------------------------------
# project JSON (S14) — metadata upsert
# ---------------------------------------------------------------------------


def build_project_json(
    pages_data: List[Dict],
    slug: str,
    base_url: str,
    language: str,
    max_pages: int,
    workers: int,
    crawl_delay: float,
    existing: Optional[Dict] = None,
    now_iso: str = "1970-01-01T00:00:00",
    crawler_engine: str = "BeautifulSoup",
    version: str = "0.1.0",
    crawled_by: str = "tribeca-insights-spark",
) -> Dict:
    """project_<slug>.json upsert semantics (json.py:150-230): created_at
    preserved from the existing doc, pages merged by slug last-wins,
    pages_count recomputed. Pure function — the Spark-scale equivalent of the
    pages merge is :func:`..operators.tf.merge_pages_by_slug`."""
    data = dict(existing) if existing else {}
    created_at = data.get("created_at", now_iso)
    pages_map = {p.get("slug"): p for p in data.get("pages", []) if p.get("slug")}
    for p in pages_data:
        if p.get("slug"):
            pages_map[p["slug"]] = p
    data.update(
        {
            "version": version,
            "crawled_by": crawled_by,
            "crawler_engine": crawler_engine,
            "project_slug": slug,
            "domain": slug,
            "base_url": base_url,
            "site_language": language,
            "language": language,
            "created_at": created_at,
            "last_updated_at": now_iso,
            "max_pages": max_pages,
            "max_workers": workers,
            "crawl_delay": crawl_delay,
            "pages": list(pages_map.values()),
            "pages_count": len(pages_map),
        }
    )
    return data


# ---------------------------------------------------------------------------
# small-scale project-tree emitter (fixture parity; NOT the scale path)
# ---------------------------------------------------------------------------


def write_project_tree(
    docs: DataFrame,
    folder: str,
    project_slug: str,
    base_url: str = "",
    language: str = "en",
    max_pages: int = 0,
    workers: int = 0,
    crawl_delay: float = 0.0,
    now_iso: str = "1970-01-01T00:00:00",
) -> Dict[str, int]:
    """Materialize the complete reference CLI output layout under ``folder``.

    Streams pages with ``toLocalIterator`` (bounded driver memory) — suitable
    for fixture diffing and demo-sized projects only; at 10^12 docs every one
    of these artifacts is a table write, not a file tree.
    """
    import os

    os.makedirs(folder, exist_ok=True)
    md_dir = os.path.join(folder, "pages_md")
    json_dir = os.path.join(folder, "pages_json")
    os.makedirs(md_dir, exist_ok=True)
    os.makedirs(json_dir, exist_ok=True)

    rendered = docs.select(
        "url",
        "lang",
        page_markdown_column(docs).alias("md_report"),
        page_json_column(docs).alias("page_json"),
    )
    index_entries: List[Dict[str, str]] = []
    pages_data: List[Dict] = []
    n_pages = 0
    for row in rendered.toLocalIterator():
        p = json.loads(row["page_json"])
        pages_data.append(p)
        with open(os.path.join(md_dir, f"{p['slug']}.md"), "w", encoding="utf-8") as f:
            f.write(row["md_report"])
        with open(
            os.path.join(json_dir, f"{p['slug']}.json"), "w", encoding="utf-8"
        ) as f:
            f.write(row["page_json"])
        index_entries.append(
            {
                "slug": p["slug"],
                "title": p["title"],
                "md_filename": p["md_filename"],
            }
        )
        n_pages += 1

    # index.json (json.py:40-58)
    with open(os.path.join(folder, "index.json"), "w", encoding="utf-8") as f:
        json.dump(index_entries, f, **JSON_DUMP_KWARGS)

    # index.md (markdown.py:131-154): glob-sorted by filename == slug sort
    with open(os.path.join(folder, "index.md"), "w", encoding="utf-8") as f:
        f.write("# Analyzed Pages Index\n\n")
        for e in sorted(index_entries, key=lambda x: x["slug"]):
            title = e["slug"].replace("-", " ").title()
            f.write(f"- [{title}](pages_md/{e['slug']}.md)\n")

    # external_urls.md / .json (csv.py:60-83, json.py:61-81)
    ext = sorted({u for p in pages_data for u in p["external_links"]})
    with open(os.path.join(folder, "external_urls.md"), "w", encoding="utf-8") as f:
        f.write("# External URLs\n\n")
        if not ext:
            f.write("_No external URLs found._\n")
        else:
            for link in ext:
                f.write(f"- {link}\n")
    with open(os.path.join(folder, "external_urls.json"), "w", encoding="utf-8") as f:
        json.dump(ext, f, **JSON_DUMP_KWARGS)

    # keyword_frequency_<slug>.csv + .json (csv.py:27-57, json.py:84-103)
    freq: Counter = Counter()
    for p in pages_data:
        freq.update(p["word_frequency"])
    csv_path = os.path.join(folder, f"keyword_frequency_{project_slug}.csv")
    with open(csv_path, "w", encoding="utf-8") as f:
        f.write("word,freq\n")
        for word, n in sorted(freq.items(), key=lambda kv: -kv[1]):
            f.write(f"{word},{n}\n")
    with open(
        os.path.join(folder, f"keyword_frequency_{project_slug}.json"),
        "w",
        encoding="utf-8",
    ) as f:
        json.dump(
            {w: n for w, n in sorted(freq.items(), key=lambda kv: -kv[1])},
            f,
            **JSON_DUMP_KWARGS,
        )

    # visited_urls CSV + JSON mirror (storage.py:65-82, json.py:106-121)
    visited = [
        {
            "URL": p["url"],
            "Status": 1,
            "Data": now_iso[:10],
            "MD File": p["md_filename"],
            "JSON File": f"{p['slug']}.json",
        }
        for p in pages_data
    ]
    vdf = pd.DataFrame(
        visited, columns=["URL", "Status", "Data", "MD File", "JSON File"]
    ).drop_duplicates(subset=["URL"])
    vcsv = os.path.join(folder, f"visited_urls_{project_slug}.csv")
    vdf.to_csv(vcsv, index=False)
    vdf.to_json(
        os.path.join(folder, f"visited_urls_{project_slug}.json"),
        orient="records",
        force_ascii=False,
        indent=2,
    )

    # project_<slug>.json upsert (json.py:150-230)
    ppath = os.path.join(folder, f"project_{project_slug}.json")
    existing = None
    if os.path.exists(ppath):
        with open(ppath, encoding="utf-8") as f:
            existing = json.load(f)
    project = build_project_json(
        pages_data,
        project_slug,
        base_url,
        language,
        max_pages,
        workers,
        crawl_delay,
        existing=existing,
        now_iso=now_iso,
    )
    with open(ppath, "w", encoding="utf-8") as f:
        json.dump(project, f, **JSON_DUMP_KWARGS)

    return {"n_pages": n_pages, "n_external": len(ext), "n_words": len(freq)}
