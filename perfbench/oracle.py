"""Expected outputs, computed by the pure-Python path the tests pin to the
reference: ``parse_page`` + ``clean_and_tokenize`` + ``Counter``.

The oracle runs before any Spark session starts, in a spawn pool with one
process per core, and is never timed.
"""

from __future__ import annotations

import gc
import hashlib
import multiprocessing
from collections import Counter

TOP_WORDS = 50
TOP_PER_DOMAIN = 10
DIGEST_HEX = 11  # 44-bit terms: a sum over 10^5 pages fits a signed long


def digest_term(url: str, page_hash: str) -> int:
    """One page's term of the order-independent (url, page_hash) digest;
    the Spark side computes the same with ``sha2``/``substring``/``conv``."""
    h = hashlib.sha256(f"{url}\t{page_hash}".encode("utf-8")).hexdigest()
    return int(h[:DIGEST_HEX], 16)


def _chunk(pages: list[tuple[str, str, str]]) -> dict:
    from tribeca_insights_spark.functions.tokenize import clean_and_tokenize
    from tribeca_insights_spark.htmlx.extractor import page_hash, parse_page

    corpus: Counter = Counter()
    by_domain: dict[str, Counter] = {}
    hashes = {}
    digest = n_tokens = n_empty = 0
    for url, html, lang in pages:
        p = parse_page(html)
        toks = clean_and_tokenize(p.text, lang, "compat")
        corpus.update(toks)
        by_domain.setdefault(url.split("/")[2], Counter()).update(toks)
        ph = page_hash(p.text)
        hashes[url] = ph
        digest += digest_term(url, ph)
        n_tokens += len(toks)
        n_empty += not p.text
    return {"corpus": corpus, "by_domain": by_domain, "hashes": hashes,
            "digest": digest, "n_tokens": n_tokens, "n_empty": n_empty}


def _top(counter: Counter, k: int) -> list[tuple[str, int]]:
    return sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def stop_resource_tracker() -> None:
    """Stop the resource tracker process a spawn pool starts and wait for it
    to end; left alone it outlives the run by a moment."""
    from multiprocessing import resource_tracker

    gc.collect()  # the pool's semaphores unregister while it still runs
    resource_tracker._resource_tracker._stop()  # no-op if not running


def build(pages: list[tuple[str, str, str]], processes: int) -> dict:
    """Expected corpus top-50, per-domain top-10, per-URL ``page_hash`` and
    the (count, sum) digest for ``pages``."""
    step = -(-len(pages) // (processes * 4))
    chunks = [pages[i:i + step] for i in range(0, len(pages), step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(processes) as pool:
        parts = pool.map(_chunk, chunks)
        pool.close()
        pool.join()
    del pool
    stop_resource_tracker()
    corpus: Counter = Counter()
    by_domain: dict[str, Counter] = {}
    hashes: dict[str, str] = {}
    for p in parts:
        corpus.update(p["corpus"])
        for d, c in p["by_domain"].items():
            by_domain.setdefault(d, Counter()).update(c)
        hashes.update(p["hashes"])
    return {
        "top_words": _top(corpus, TOP_WORDS),
        "domain_top": sorted(
            (d, w, f) for d, c in by_domain.items()
            for w, f in _top(c, TOP_PER_DOMAIN)
        ),
        "hashes": hashes,
        "digest": (len(pages), sum(p["digest"] for p in parts)),
        "n_tokens": sum(p["n_tokens"] for p in parts),
        "n_empty": sum(p["n_empty"] for p in parts),
    }
