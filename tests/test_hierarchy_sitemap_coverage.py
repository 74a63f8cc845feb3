"""q254-q255 wave: 3-level shrinkage, sitemap coverage audit."""

import pytest
from pyspark.sql import Row

from tribeca_insights_spark.operators.textstats import (
    shrunk_hierarchy_quality,
)
from tribeca_insights_spark.sources.sitemap import sitemap_coverage


def test_hierarchy_thin_host_on_thin_domain_borrows_from_corpus(spark):
    rows = (
        # big domain "big": 100 docs at metric 100
        [Row(host="big-h", domain="big", n_chars=100) for _ in range(100)]
        # thin domain "thin": ONE host, 2 docs at metric 1000
        + [Row(host="thin-h", domain="thin", n_chars=1000) for _ in range(2)]
    )
    out = {
        r["host"]: r
        for r in shrunk_hierarchy_quality(
            spark.createDataFrame(rows),
            alpha=20, beta=50,
        ).collect()
    }
    thin = out["thin-h"]
    # raw mean 1000; global mean ~ (100*100 + 2*1000)/102 ~ 117.6
    # thin domain's shrunk prior sits near the corpus, so the host's
    # shrunk estimate is pulled FAR below its raw 1000
    assert thin["mean_micros"] == 1000 * 1_000_000
    assert thin["shrunk_micros"] < 400 * 1_000_000
    # big host barely moves
    big = out["big-h"]
    assert abs(big["shrunk_micros"] - big["mean_micros"]) < (
        5 * 1_000_000
    )


def test_hierarchy_exact_integer_recurrence(spark):
    rows = [Row(host="h1", domain="d", n_chars=10),
            Row(host="h1", domain="d", n_chars=20),
            Row(host="h2", domain="d", n_chars=40)]
    out = {
        r["host"]: r
        for r in shrunk_hierarchy_quality(
            spark.createDataFrame(rows),
            alpha=2, beta=3,
        ).collect()
    }
    gm = (70 * 1_000_000) // 3
    dsh = (70 * 1_000_000 + 3 * gm) // (3 + 3)
    h1 = (30 * 1_000_000 + 2 * dsh) // (2 + 2)
    assert out["h1"]["dom_shrunk_micros"] == dsh
    assert out["h1"]["shrunk_micros"] == h1


def test_sitemap_coverage_gap_lists(spark):
    locs = spark.createDataFrame(
        [Row(host="a", url="u1"), Row(host="a", url="u2"),
         Row(host="a", url="u2")]  # dup collapses
    )
    crawled = spark.createDataFrame(
        [Row(host="a", url="u2"), Row(host="a", url="u3")]
    )
    out = sitemap_coverage(locs, crawled).collect()[0]
    assert out["n_in_sitemap"] == 2
    assert out["n_crawled"] == 2
    assert out["n_both"] == 1
    assert out["n_sitemap_only"] == 1  # u1: frontier debt
    assert out["n_crawled_only"] == 1  # u3: orphan
    assert out["crawl_coverage_micros"] == 500_000
    assert out["orphan_micros"] == 500_000


def test_sitemap_coverage_empty_sides_null_rates(spark):
    locs = spark.createDataFrame([Row(host="b", url="u9")])
    crawled = spark.createDataFrame(
        [Row(host="c", url="u10")]
    )
    out = {r["host"]: r for r in
           sitemap_coverage(locs, crawled).collect()}
    assert out["b"]["n_crawled"] == 0
    assert out["b"]["orphan_micros"] is None
    assert out["c"]["n_in_sitemap"] == 0
    assert out["c"]["crawl_coverage_micros"] is None
