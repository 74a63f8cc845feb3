"""Seeded input generators for the benchmark's workloads.

Every input is derived from one integer seed and written to parquet with
pyarrow before any Spark session exists, so the program under test only
ever sees the generated files. All workloads share one Zipfian vocabulary
of ``VOCAB_SIZE`` words: a vocabulary this large keeps map-side partial
aggregation from collapsing the TF shuffle, which a 30-word vocabulary
would do.

* ``small_pages``  — short pages shaped like ``documents_as_pages``.
* ``crawl_pages``  — 20–100 KB pages with per-domain boilerplate templates,
  inline ``<script>``/``<style>``, nested ``<div>``s and bodies from
  ``tribeca_insights_spark.fixtures.make_html`` (its unclosed tags,
  comment-with-tags, script-with-markup, entity and CJK/Cyrillic shapes).

Inputs are written as ``N_FILES`` equal parquet files. The resume probe of
a traced run treats the first ``RESUME_DONE_FILES`` files as an earlier,
completed run and the next file as new pages (a tenth as many).
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tribeca_insights_spark.fixtures import LANGS, make_html

VOCAB_SIZE = 100_000
VOCAB_SEED = 20_260_101  # one vocabulary for every seed and workload
ZIPF_S = 1.0
HOT_DOMAIN = "hot-domain.com"
HOT_SHARE = 0.4
N_FILES = 20  # input files per table: gives the scan several splits
RESUME_DONE_FILES = 10

# Generator parameters per workload (summarised in BENCHMARK.json's whys).
PARAMS = {
    "small_pages": {"pages": 6_000, "bytes_min": 500, "bytes_max": 2_000,
                    "domains": 200},
    "crawl_pages": {"pages": 240, "bytes_min": 20_000, "bytes_max": 100_000,
                    "domains": 12},
}

_LETTERS = "abcdefghijklmnopqrstuvwxyz" * 6 + "éçãõüàíóñß"

DOCS_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


class Vocab:
    """Zipfian word source. The words come from ``VOCAB_SEED``, so every
    run ranks the same words; ``rng`` (the run's seed) draws the text."""

    def __init__(self, rng: np.random.Generator, size: int = VOCAB_SIZE):
        wrng = np.random.default_rng(VOCAB_SEED)
        codes = np.array([ord(c) for c in _LETTERS], dtype="<u4")
        words: dict[str, None] = {}
        while len(words) < size:
            lens = wrng.integers(2, 13, size=size)
            chars = codes[wrng.integers(0, len(codes), size=int(lens.sum()))]
            s = chars.tobytes().decode("utf-32-le")
            ends = np.cumsum(lens)
            for a, b in zip((ends - lens).tolist(), ends.tolist()):
                words[s[a:b]] = None
        self.words = np.array(list(words)[:size], dtype=object)
        w = 1.0 / np.arange(1, size + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.rng = rng

    def text(self, n_words: int) -> str:
        idx = np.searchsorted(self.cdf, self.rng.random(n_words))
        idx = np.minimum(idx, len(self.words) - 1)
        return " ".join(self.words[idx])

    def text_bytes(self, n_bytes: int) -> str:
        """Zipfian text of roughly ``n_bytes`` UTF-8 bytes."""
        return self.text(max(1, n_bytes // 8))


def _domains(n: int, n_other: int, rng: random.Random) -> list[str]:
    """``HOT_SHARE`` of ``n`` pages on one domain, the rest spread evenly
    over ``n_other`` domains, in seeded order."""
    n_hot = round(n * HOT_SHARE)
    doms = [HOT_DOMAIN] * n_hot + [f"site{k % n_other}.example.com"
                                   for k in range(n - n_hot)]
    rng.shuffle(doms)
    return doms


def small_page(vocab: Vocab, i: int, domain: str, target: int) -> str:
    """A short page of about ``target`` bytes laid out like
    ``entry_queries.documents_as_pages``."""
    head = (
        f"<html><head><title>Doc {i} {vocab.text(2)}</title>"
        f'<meta name="description" content="{vocab.text(6)}"></head><body>'
        "<header>site header</header>"
        '<nav><a href="https://nav.example.net/x">navlink</a></nav>'
        f"<h1>Heading {i} {vocab.text(3)}</h1><p>"
    )
    tail = (
        f'</p><a href="/about/{i}">about</a>'
        f'<a href="https://ext{i % 5}.example.org/page">ext</a>'
        f'<img src="/img/{i}.png" alt="img {i}">'
        "<footer>footer</footer></body></html>"
    )
    return head + vocab.text_bytes(target - len(head) - len(tail)) + tail


def _template(vocab: Vocab, domain: str) -> tuple[str, str, str]:
    """Per-domain boilerplate: (head assets, header+nav, footer)."""
    css = "".join(
        f".{w}{{margin:{k}px;padding:0 {k}em;color:#{k * 37 % 4096:03x}}}\n"
        for k, w in enumerate(vocab.text(120).split())
    )
    js = "".join(
        f"var {w}_{k}=document.getElementById('{w}');"
        f"if({w}_{k}){{{w}_{k}.innerHTML='<p>{w}</p><div>x</div>';}}\n"
        for k, w in enumerate(vocab.text(60).split())
    )
    assets = f"<style>{css}</style><script>{js}</script>"
    menu = "".join(
        f'<li><a href="https://{domain}/c/{w}">{w.title()}</a></li>'
        for w in vocab.text(40).split()
    )
    header = (
        f'<header><div class="logo">{domain}</div></header>'
        f'<nav><ul class="menu">{menu}</ul></nav>'
    )
    legal = "".join(
        f'<a href="https://{domain}/legal/{w}">{w}</a> '
        for w in vocab.text(20).split()
    )
    footer = f"<footer><p>{vocab.text(80)}</p>{legal}</footer>"
    return assets, header, footer


def _section(vocab: Vocab, rng: random.Random, i: int, domain: str,
             depth: int) -> str:
    paras = "".join(
        f"<p>{vocab.text(rng.randint(30, 120))}</p>"
        for _ in range(rng.randint(2, 6))
    )
    links = "".join(
        f'<a href="https://{domain}/p/{w}">{w}</a> '
        if rng.random() < 0.7 else
        f'<a href="https://ext{rng.randrange(50)}.example.org/{w}">{w}</a> '
        for w in vocab.text(rng.randint(3, 12)).split()
    )
    extra = ""
    if rng.random() < 0.3:
        extra += (f'<script>window.ad_{i}={{"slot":"{vocab.text(1)}",'
                  f'"html":"<span>{vocab.text(3)}</span>"}};</script>')
    if rng.random() < 0.2:
        extra += f'<img src="/img/{vocab.text(1)}.jpg" alt="{vocab.text(3)}">'
    body = (f"<h2>{vocab.text(rng.randint(2, 6))}</h2>{paras}"
            f"<ul><li>{links}</li></ul>{extra}")
    opens = "".join(f'<div class="d{k}">' for k in range(depth))
    return opens + body + "</div>" * depth


def crawl_page(vocab: Vocab, rng: random.Random, i: int, domain: str,
               lang: str, template: tuple[str, str, str], target: int) -> str:
    """A page of about ``target`` bytes: domain boilerplate around
    nested-div sections, interleaved with ``fixtures.make_html`` bodies
    (hostile shapes)."""
    assets, header, footer = template
    parts = [
        f"<!DOCTYPE html><html><head><title>{vocab.text(5)}</title>"
        f'<meta name="description" content="{vocab.text(12)}">{assets}'
        f"</head><body>{header}<main>"
    ]
    size = len(parts[0]) + len(footer) + 30
    while size < target:
        if rng.random() < 0.25:
            fx = make_html(rng, i, domain, lang)["html"]
            frag = fx[fx.index("<body>") + 6:fx.rindex("</body>")]
        else:
            frag = _section(vocab, rng, i, domain, rng.randint(1, 8))
        parts.append(frag)
        size += len(frag)
    parts.append(f"</main>{footer}</body></html>")
    return "".join(parts)


def file_pages(pages: list, k: int) -> list:
    """The pages :func:`write_docs` puts in file ``k``."""
    step = -(-len(pages) // N_FILES)
    return pages[k * step:(k + 1) * step]


def _rows(pages: list[tuple[str, str, str]]) -> dict:
    t0 = datetime(2026, 1, 1)
    return {
        "url": [u for u, _, _ in pages],
        "warc_ts": [t0 + timedelta(seconds=k) for k in range(len(pages))],
        "html": [h.encode("utf-8") for _, h, _ in pages],
        "text": [""] * len(pages),
        "lang": [lg for _, _, lg in pages],
    }


def write_docs(pages: list[tuple[str, str, str]],
               path: str) -> tuple[int, list[str]]:
    """Write (url, html, lang) pages as the docs table in ``N_FILES`` files.
    Returns the HTML byte total and the file paths in page order."""
    os.makedirs(path, exist_ok=True)
    files, nbytes = [], 0
    for k in range(N_FILES):
        part = file_pages(pages, k)
        rows = _rows(part)
        nbytes += sum(len(h) for h in rows["html"])
        files.append(os.path.join(path, f"part-{k:03d}.parquet"))
        pq.write_table(pa.Table.from_pydict(rows, schema=DOCS_SCHEMA),
                       files[-1])
    return nbytes, files


def generate(workload: str, seed: int) -> list[tuple[str, str, str]]:
    """The workload's pages, each a ``(url, html, lang)`` tuple."""
    nrng = np.random.default_rng(seed)
    rng = random.Random(seed)
    vocab = Vocab(nrng)
    if workload not in PARAMS:
        raise ValueError(f"unknown workload {workload!r}")
    p = PARAMS[workload]
    # page sizes evenly spread over the range and a fixed domain mix, in
    # seeded order: seeds differ in content, not in size or skew
    sizes = np.linspace(p["bytes_min"], p["bytes_max"], p["pages"]).astype(int)
    sizes = nrng.permutation(sizes).tolist()
    doms = _domains(p["pages"], p["domains"], rng)
    pages = []
    templates: dict[str, tuple[str, str, str]] = {}
    for i, (size, dom) in enumerate(zip(sizes, doms)):
        lang = rng.choice(LANGS)
        if workload == "small_pages":
            pages.append((f"https://{dom}/docs/{i}",
                          small_page(vocab, i, dom, size), lang))
        else:
            if dom not in templates:
                templates[dom] = _template(vocab, dom)
            pages.append((f"https://{dom}/articles/{i}",
                          crawl_page(vocab, rng, i, dom, lang,
                                     templates[dom], size), lang))
    return pages
