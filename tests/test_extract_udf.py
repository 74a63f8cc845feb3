"""Golden-fixture parity: the distributed pipeline must reproduce the
single-process oracle byte-for-byte on every page (BASELINE.json north_rule:
byte-identical extracted text per url; identical TF vectors; identical SEO
fields)."""

import pytest
from pyspark.sql import functions as F

from tribeca_insights_spark.fixtures import corpus_df, gen_corpus, golden_records
from tribeca_insights_spark.operators.extract import page_data

N = 300
SEED = 42


@pytest.fixture(scope="module")
def golden():
    rows = gen_corpus(N, SEED)
    return {g["url"]: g for g in golden_records(rows)}


@pytest.fixture(scope="module")
def spark_pages(spark):
    docs = corpus_df(spark, N, SEED, partitions=8)
    return {r["url"]: r.asDict(recursive=True) for r in page_data(docs).collect()}


def test_same_urls(golden, spark_pages):
    assert set(golden) == set(spark_pages)
    assert len(golden) == N  # no url collisions in the corpus


def test_byte_identical_text_and_hash(golden, spark_pages):
    mismatches = [
        u
        for u in golden
        if spark_pages[u]["page_hash"] != golden[u]["page_hash"]
    ]
    assert mismatches == []
    # page_hash == sha256(text) already implies byte-identity, but check the
    # strings directly too (hash could agree on both being wrong)
    for u, g in golden.items():
        assert spark_pages[u]["text"] == g["text"], u


def test_identical_seo_fields(golden, spark_pages):
    for u, g in golden.items():
        s = spark_pages[u]
        assert s["title"] == g["title"], u
        assert s["meta_description"] == g["meta_description"], u
        assert s["headings"] == g["headings"], u
        assert s["images"] == g["images"], u
        assert s["external_links"] == g["external_links"], u
        assert s["internal_links"] == g["internal_links"], u
        assert s["slug"] == g["slug"], u


def test_identical_tf_vectors(golden, spark_pages):
    for u, g in golden.items():
        s = spark_pages[u]
        assert s["word_count"] == g["word_count"], u
        assert s["word_frequency"] == g["word_frequency"], u


def test_token_strings_match_golden_and_full_record(spark, golden):
    """The tokens-only mode ships the same tokens as the full record: the
    golden per-url tokens under ``compat``, and ``extract_pages``'s own
    ``tokens_str`` under ``nltk``."""
    from tribeca_insights_spark.operators.extract import (
        extract_pages,
        extract_token_strings,
    )

    docs = corpus_df(spark, N, SEED, partitions=8)
    got = {r["url"]: r["tokens_str"]
           for r in extract_token_strings(docs).collect()}
    assert set(got) == set(golden)
    for u, g in golden.items():
        assert got[u] == " ".join(g["tokens"]), u
    nltk = {r["url"]: r["tokens_str"]
            for r in extract_token_strings(docs, profile="nltk").collect()}
    full = {r["url"]: r["tokens_str"]
            for r in extract_pages(docs, profile="nltk").collect()}
    assert nltk == full


def test_null_and_edge_rows(spark):
    """Null html/lang/url, empty html, and non-utf8 bytes must flow through
    the full extraction without error (reference returns an empty record on
    missing html, crawler.py:139-141; decode policy: utf-8 errors=replace)."""
    from tribeca_insights_spark.operators.extract import extract_pages
    from tribeca_insights_spark.schemas import DOCS_SCHEMA

    rows = [
        {"url": "https://x.com/a", "warc_ts": None, "html": None,
         "text": "", "lang": "en"},
        {"url": "https://x.com/b", "warc_ts": None, "html": b"",
         "text": "", "lang": None},
        {"url": None, "warc_ts": None, "html": b"<p>hi there</p>",
         "text": "", "lang": "en"},
        {"url": "https://x.com/d", "warc_ts": None,
         "html": b"\xff\xfe<p>bad bytes\x80</p>", "text": "", "lang": "en"},
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    out = {r["url"]: r for r in extract_pages(docs).collect()}
    assert out["https://x.com/a"]["text"] == ""
    assert out["https://x.com/a"]["title"] == "(no title)"
    assert out["https://x.com/a"]["tokens"] == []
    assert out["https://x.com/a"]["word_frequency"] == {}
    assert out["https://x.com/b"]["page_hash"] == (
        # sha256 of empty string
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    )
    assert out[None]["slug"] == "home"  # empty path → "home" (crawler.py:77)
    assert "bad bytes" in out["https://x.com/d"]["text"]


def test_charset_aware_decode(spark, tmp_path):
    """Golden charset parity: a latin-1 page with a per-row declared
    charset decodes byte-for-byte like the reference's requests path
    (resp.text uses the Content-Type header charset, crawler.py:137-138) —
    auto-detected from a `charset` column, through the batch-UDF
    extraction, its tokens-only mode and the resumable pipeline. Without a
    charset, UTF-8(replace) applies. Bogus charset names fall back to
    UTF-8 instead of raising."""
    from tribeca_insights_spark.operators.extract import (
        extract_pages,
        extract_token_strings,
    )
    from tribeca_insights_spark.plans.pipeline import run_extraction
    from tribeca_insights_spark.plans.state import read_extracted

    body = "<html><title>Café résumé</title><p>çãé naïve</p></html>"
    latin1 = body.encode("latin-1")
    # what requests yields for charset=ISO-8859-1 — the golden text
    golden_title = "Café résumé"
    rows = [
        ("https://x.com/l1", latin1, "en", "iso-8859-1"),
        ("https://x.com/cp", "ü-señor".encode("cp1252").join(
            [b"<p>", b"</p>"]), "en", "Windows-1252"),  # case-insensitive
        ("https://x.com/bogus", latin1, "en", "no-such-codec"),
        ("https://x.com/none", latin1, "en", None),
    ]
    docs = spark.createDataFrame(
        rows, "url STRING, html BINARY, lang STRING, charset STRING"
    ).withColumn("warc_ts", F.lit(None).cast("timestamp"))
    pages = {r["url"]: r for r in extract_pages(docs).collect()}
    root = str(tmp_path / "run")
    run_extraction(spark, docs, root, n_buckets=2)
    piped = {r["url"]: r for r in read_extracted(spark, root).collect()}
    for out in (pages, piped):
        assert set(out) == {u for u, *_ in rows}
        assert out["https://x.com/l1"]["title"] == golden_title
        assert "çãé naïve" in out["https://x.com/l1"]["text"]
        assert "ü-señor" in out["https://x.com/cp"]["text"]
        # bogus codec and no charset → utf-8 replace (é = 0xe9 → U+FFFD)
        assert "�" in out["https://x.com/bogus"]["title"]
        assert out["https://x.com/bogus"]["title"] == out[
            "https://x.com/none"]["title"]
    tokens = {r["url"]: r["tokens_str"]
              for r in extract_token_strings(docs).collect()}
    assert tokens["https://x.com/l1"] == "café résumé çãé naïve"
    for out in (pages, piped):
        assert tokens == {u: r["tokens_str"] for u, r in out.items()}
