"""TF / report aggregation tests: distributed results vs single-process
oracle computed from the golden records, including salted == unsalted."""

from collections import Counter
from urllib.parse import urlparse

import pytest

from tribeca_insights_spark.fixtures import corpus_df, gen_corpus, golden_records
from tribeca_insights_spark.operators.extract import extract_pages
from tribeca_insights_spark.operators import tf as tfops

N = 200


@pytest.fixture(scope="module")
def golden():
    return golden_records(gen_corpus(N))


@pytest.fixture(scope="module")
def extracted(spark):
    return extract_pages(corpus_df(spark, N, partitions=8)).cache()


def test_corpus_tf_matches_oracle_and_salting_is_transparent(golden, extracted):
    oracle = Counter()
    for g in golden:
        oracle.update(g["tokens"])
    plain = {(r["word"]): r["freq"] for r in tfops.corpus_tf(extracted).collect()}
    salted = {
        (r["word"]): r["freq"]
        for r in tfops.corpus_tf(extracted, n_salts=16).collect()
    }
    assert plain == dict(oracle)
    assert salted == plain


def test_doc_frequency(golden, extracted):
    oracle = Counter()
    for g in golden:
        oracle.update(set(g["tokens"]))
    got = {r["word"]: r["n_docs"] for r in tfops.doc_frequency(extracted).collect()}
    assert got == dict(oracle)


def test_domain_top_keywords_salted_equals_plain(golden, extracted):
    plain = tfops.domain_top_keywords(extracted, k=3).collect()
    salted = tfops.domain_top_keywords(extracted, k=3, n_salts=8).collect()
    as_set = lambda rows: {(r["domain"], r["word"], r["freq"], r["rank"]) for r in rows}
    assert as_set(plain) == as_set(salted)
    # oracle for the hot domain
    oracle = Counter()
    for g in golden:
        if urlparse(g["url"]).netloc == "hot-domain.com":
            oracle.update(g["tokens"])
    items = sorted(oracle.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    got = sorted(
        [
            (r["word"], r["freq"])
            for r in plain
            if r["domain"] == "hot-domain.com"
        ],
        key=lambda t: (-t[1], t[0]),
    )
    assert got == items


def test_external_urls_and_link_counts(golden, extracted):
    oracle = sorted({u for g in golden for u in g["external_links"]})
    got = [r["ext_url"] for r in tfops.external_urls_global(extracted).collect()]
    assert got == oracle
    counts = {r["url"]: (r["n_external"], r["n_internal"]) for r in tfops.link_counts(extracted).collect()}
    for g in golden:
        assert counts[g["url"]] == (len(g["external_links"]), len(g["internal_links"]))


def test_merge_tf(spark):
    old = spark.createDataFrame([("a", 2), ("b", 1)], "word string, freq long")
    new = spark.createDataFrame([("a", 3), ("c", 5)], "word string, freq long")
    got = {r["word"]: r["freq"] for r in tfops.merge_tf(old, new).collect()}
    assert got == {"a": 5, "b": 1, "c": 5}


def test_merge_pages_by_slug(spark):
    rows = [
        ("u1", "s1", 1), ("u2", "s1", 2), ("u3", "s2", 1),
    ]
    df = spark.createDataFrame(rows, "url string, slug string, warc_ts long")
    got = {(r["slug"], r["url"]) for r in tfops.merge_pages_by_slug(df).collect()}
    assert got == {("s1", "u2"), ("s2", "u3")}
