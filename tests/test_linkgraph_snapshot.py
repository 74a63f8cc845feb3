"""Round-3 cont.: link-graph (anchors, PageRank), snapshot diff,
blocklist, length percentiles, CCNet perplexity buckets."""

import math

from pyspark.sql import Row, functions as F

from tribeca_insights_spark.htmlx.anchors import extract_anchors
from tribeca_insights_spark.operators.blocklist import domain_block_flags
from tribeca_insights_spark.operators.linkgraph import (
    anchor_pairs,
    anchor_text_stats,
    pagerank_micros,
)
from tribeca_insights_spark.operators.lm import (
    bigram_lm_score,
    perplexity_buckets,
    perplexity_buckets_ntile,
)
from tribeca_insights_spark.operators.textstats import length_percentiles
from tribeca_insights_spark.plans.snapshot import (
    snapshot_diff,
    snapshot_diff_counts,
)


# --- anchors parser ---------------------------------------------------------


def test_extract_anchors_basic():
    html = (
        '<a href="/a">One</a> text <a href="http://x/">Two '
        "<b>bold</b></a>"
    )
    assert extract_anchors(html) == [("/a", "One"), ("http://x/", "Two bold")]


def test_extract_anchors_edge_cases():
    # no href → skipped; whitespace collapsed; entity decoded
    assert extract_anchors('<a name="t">jump</a>') == []
    assert extract_anchors('<a href="/x">  a \n b &amp; c </a>') == [
        ("/x", "a b & c")
    ]
    # unclosed <a> at EOF still emits
    assert extract_anchors('<p><a href="/y">tail') == [("/y", "tail")]
    # boilerplate anchors ARE kept (nav link-graph signal)
    assert extract_anchors('<nav><a href="/n">nav</a></nav>') == [
        ("/n", "nav")
    ]
    # empty / malformed input never raises
    assert extract_anchors("") == []
    assert extract_anchors("<a href=") == []


def test_anchor_pairs_resolution(spark):
    docs = spark.createDataFrame(
        [
            Row(
                url="https://h.example.com/p",
                html=(
                    '<a href="/rel">r</a><a href="https://abs/q">a</a>'
                    '<a href="#frag">f</a><a href="mailto:x@y">m</a>'
                    '<a href="//proto.rel/z">p</a>'
                ).encode(),
            )
        ]
    )
    rows = {
        r.target: r.anchor
        for r in anchor_pairs(docs).collect()
    }
    # fragment / mailto / protocol-relative dropped
    assert rows == {
        "https://h.example.com/rel": "r",
        "https://abs/q": "a",
    }


def test_anchor_text_stats(spark):
    pairs = spark.createDataFrame(
        [
            Row(url="u1", target="t", anchor="x"),
            Row(url="u2", target="t", anchor="y"),
            Row(url="u3", target="t", anchor="x"),
            Row(url="u1", target="s", anchor="z"),
        ]
    )
    got = {r.target: r for r in anchor_text_stats(pairs).collect()}
    assert got["t"].n_refs == 3
    assert got["t"].n_distinct_anchors == 2
    assert got["t"].first_anchor == "x"
    assert got["s"].n_refs == 1


# --- pagerank ---------------------------------------------------------------


def _ranks(df):
    return {r.node: r.rank_micros for r in df.collect()}


def test_pagerank_cycle_uniform(spark):
    # 3-cycle: symmetric graph keeps the uniform distribution exactly
    e = spark.createDataFrame(
        [Row(src=0, dst=1), Row(src=1, dst=2), Row(src=2, dst=0)]
    )
    r = _ranks(pagerank_micros(e, n_iter=4))
    assert r == {0: 1_000_000, 1: 1_000_000, 2: 1_000_000}


def test_pagerank_star_concentrates(spark):
    # 1..3 all point at 0; 0 points back at 1 — hub outranks spokes,
    # and the exact integer recurrence is reproducible run-to-run
    e = spark.createDataFrame(
        [Row(src=1, dst=0), Row(src=2, dst=0), Row(src=3, dst=0),
         Row(src=0, dst=1)]
    )
    r1 = _ranks(pagerank_micros(e, n_iter=3))
    r2 = _ranks(pagerank_micros(e, n_iter=3))
    assert r1 == r2
    assert r1[0] > r1[1] > r1[2] == r1[3]
    # hand-rolled recurrence, iteration 1:
    # contrib(0) = 3 * (1e6 div 1); s(0) = 150000 + 85*3e6 div 100
    assert _ranks(pagerank_micros(e, n_iter=1))[0] == 150_000 + (
        85 * 3_000_000
    ) // 100


def test_pagerank_dangling_redistribution(spark):
    # 0 → 1, 1 is a sink. Without redistribution its mass exits the
    # system; with it, every node gets d * sink_mass / N back.
    e = spark.createDataFrame([Row(src=0, dst=1)])
    plain = _ranks(pagerank_micros(e, n_iter=1))
    redist = _ranks(
        pagerank_micros(e, n_iter=1, redistribute_dangling=True)
    )
    assert plain == {0: 150_000, 1: 150_000 + 850_000}
    bonus = (85 * 1_000_000) // (100 * 2)
    assert redist == {0: 150_000 + bonus, 1: 1_000_000 + bonus}


def test_pagerank_validation(spark):
    e = spark.createDataFrame([Row(src=0, dst=1)])
    try:
        pagerank_micros(e, n_iter=-1)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
    try:
        pagerank_micros(e, damping_pct=101)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
    # n_iter=0 → uniform start for all nodes
    assert _ranks(pagerank_micros(e, n_iter=0)) == {
        0: 1_000_000,
        1: 1_000_000,
    }


# --- snapshot diff ----------------------------------------------------------


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [Row(url="a", page_hash="1"), Row(url="b", page_hash="2"),
         Row(url="c", page_hash="3")]
    )
    new = spark.createDataFrame(
        [Row(url="b", page_hash="2"), Row(url="c", page_hash="9"),
         Row(url="d", page_hash="4")]
    )
    d = {r.url: r for r in snapshot_diff(old, new).collect()}
    assert d["a"].status == "removed" and d["a"].new_fingerprint is None
    assert d["b"].status == "unchanged"
    assert d["c"].status == "changed" and d["c"].new_fingerprint == "9"
    assert d["d"].status == "added" and d["d"].old_fingerprint is None
    counts = {
        r.status: r.n_pages
        for r in snapshot_diff_counts(snapshot_diff(old, new)).collect()
    }
    assert counts == {"removed": 1, "unchanged": 1, "changed": 1,
                      "added": 1}


# --- blocklist --------------------------------------------------------------


def test_blocklist_suffix_semantics(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, host="bad.com"),
            Row(doc_id=2, host="cdn.bad.com"),
            Row(doc_id=3, host="a.b.bad.com"),
            Row(doc_id=4, host="notbad.com"),  # substring ≠ suffix match
            Row(doc_id=5, host="good.org"),
        ]
    )
    bl = spark.createDataFrame([("bad.com",)], "entry string")
    flags = {r.doc_id: r for r in domain_block_flags(docs, bl).collect()}
    assert [flags[i].blocked for i in (1, 2, 3, 4, 5)] == [
        True, True, True, False, False,
    ]
    assert flags[2].matched_entry == "bad.com"
    assert flags[4].matched_entry is None


def test_blocklist_min_entry_deterministic(spark):
    docs = spark.createDataFrame([Row(doc_id=1, host="x.a.b")])
    bl = spark.createDataFrame([("a.b",), ("x.a.b",)], "entry string")
    row = domain_block_flags(docs, bl).collect()[0]
    assert row.matched_entry == "a.b"  # lexicographic min of the matches


# --- length percentiles -----------------------------------------------------


def test_length_percentiles_exact(spark):
    # 1..5: p50 = 3 exactly, p90 = 1 + 0.9*4 = 4.6 (linear interp)
    df = spark.createDataFrame(
        [Row(lang="en", n_chars=i) for i in range(1, 6)]
    )
    row = length_percentiles(df).collect()[0]
    assert row.n_docs == 5
    assert math.isclose(row.p50, 3.0)
    assert math.isclose(row.p90, 4.6)
    assert math.isclose(row.p99, 4.96)


def test_length_percentiles_sketch_matches_exact(spark):
    # VERDICT r3 #6: percentile_approx path (the 10^12-row swap) must
    # track the exact path — rank error ≤ n/accuracy, and the sketch
    # returns data values, so tolerance = the local order-statistic gap
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
    df = spark.read.parquet(f"{sf}/documents.parquet")
    exact = {r[0]: r for r in length_percentiles(df).collect()}
    approx = {
        r[0]: r
        for r in length_percentiles(
            df, approx=True, accuracy=1_000_000
        ).collect()
    }
    assert set(exact) == set(approx)
    for g, e in exact.items():
        a = approx[g]
        assert e.n_docs == a.n_docs
        for p in ("p50", "p90", "p99"):
            ev, av = getattr(e, p), getattr(a, p)
            # exact interpolates between the two order stats the sketch
            # may return either of — allow a tight relative band
            assert abs(av - ev) <= max(1.0, 0.05 * ev), (g, p, ev, av)


# --- perplexity buckets -----------------------------------------------------


def _ppl_docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=i, lang="en",
                text=("good tokens flow well " * (i + 1)))
            for i in range(4)
        ]
        + [Row(doc_id=9, lang="xx", text="zz qq vv zz qq vv")]
    )


def test_perplexity_buckets_threshold_split(spark):
    scored = bigram_lm_score(_ppl_docs(spark), F.col("lang") == "en")
    out = perplexity_buckets(scored)
    rows = {r.doc_id: r for r in out.collect()}
    # 5 scored distinct-score docs; quantile_disc ranks ceil(5/3)=2 and
    # ceil(10/3)=4 → head = strictly above the 4th-smallest (1 doc),
    # middle = (2nd, 4th] (2 docs), tail = rest (2 docs)
    from collections import Counter

    sizes = Counter(r.ppl_bucket for r in rows.values())
    assert sizes == {1: 1, 2: 2, 3: 2}
    assert rows[9].bucket_label == "tail"  # OOV doc scores worst
    labels = {r.ppl_bucket: r.bucket_label for r in rows.values()}
    assert labels == {1: "head", 2: "middle", 3: "tail"}
    # bucket assignment must be monotone in avg_logprob
    by_bucket = {}
    for r in rows.values():
        by_bucket.setdefault(r.ppl_bucket, []).append(r.avg_logprob)
    assert min(by_bucket[1]) > max(by_bucket[2]) > max(by_bucket[3])


def test_perplexity_buckets_plan_has_no_window(spark):
    scored = bigram_lm_score(_ppl_docs(spark), F.col("lang") == "en")
    plan = perplexity_buckets(scored)._jdf.queryExecution().executedPlan().toString()
    # VERDICT r3 #1: the registered path must never plan a WindowExec
    # (the old global NTILE moved the corpus to one partition)
    assert "Window" not in plan


def test_perplexity_buckets_per_group(spark):
    # CCNet granularity: each language gets its own LM and its own cut
    # points — every language must see all three buckets independently
    from tribeca_insights_spark.operators.lm import bigram_lm_score_grouped

    rows = []
    for lang, words in (("en", "good clean english text flows"),
                        ("de", "guter sauberer deutscher text hier")):
        for i in range(5):
            rows.append(Row(doc_id=len(rows), lang=lang,
                            text=(words + " ") * (i + 1)))
    docs = spark.createDataFrame(rows)
    scored = bigram_lm_score_grouped(docs)
    out = perplexity_buckets(scored, group_col="lang")
    got = out.collect()
    assert len(got) == 10
    by_lang = {}
    for r in got:
        by_lang.setdefault(r.lang, set()).add(r.bucket_label)
    # per-lang thresholds → each 5-doc language splits into all 3 buckets
    assert by_lang["en"] == {"head", "middle", "tail"}
    assert by_lang["de"] == {"head", "middle", "tail"}


def test_perplexity_buckets_ntile_reference(spark):
    # small-scale exact equal-frequency reference form
    scored = bigram_lm_score(_ppl_docs(spark), F.col("lang") == "en")
    out = perplexity_buckets_ntile(scored)
    rows = {r.doc_id: r for r in out.collect()}
    from collections import Counter

    sizes = Counter(r.ppl_bucket for r in rows.values())
    assert sizes == {1: 2, 2: 2, 3: 1}
    assert rows[9].bucket_label == "tail"
    # threshold and NTILE forms agree on the extremes: the single best
    # doc is head in both, the single worst is tail in both
    th = {r.doc_id: r for r in perplexity_buckets(scored).collect()}
    best = max(rows.values(), key=lambda r: r.avg_logprob).doc_id
    worst = min(rows.values(), key=lambda r: r.avg_logprob).doc_id
    assert rows[best].bucket_label == th[best].bucket_label == "head"
    assert rows[worst].bucket_label == th[worst].bucket_label == "tail"


# --- k-hop BFS ---------------------------------------------------------------


def test_bfs_min_dist_chain_and_diamond(spark):
    from tribeca_insights_spark.operators.linkgraph import bfs_min_dist

    # chain 0→1→2→3 plus a diamond shortcut 0→2 (min dist must win)
    edges = spark.createDataFrame(
        [Row(src=0, dst=1), Row(src=1, dst=2), Row(src=2, dst=3),
         Row(src=0, dst=2)]
    )
    seeds = spark.createDataFrame([Row(node=0)])
    got = {r.node: r.dist for r in bfs_min_dist(edges, seeds, k=2).collect()}
    # k=2: node 3 reachable via 0→2→3 at dist 2; node 2 at dist 1 (shortcut)
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}


def test_bfs_materialize_unpersists_levels(spark):
    # ADVICE r3: materialize=True must not leak the per-level caches
    from tribeca_insights_spark.operators.linkgraph import bfs_min_dist

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(6)]
    )
    seeds = spark.createDataFrame([Row(node=0)])

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_persisted()
    out = bfs_min_dist(edges, seeds, k=3, materialize=True)
    # only the localCheckpoint of the RESULT remains cached — the k+1
    # frontier-level caches are released before return
    assert n_persisted() <= base + 1
    got = {r.node: r.dist for r in out.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    spark.catalog.clearCache()


def test_bfs_min_dist_k0_and_multi_seed(spark):
    from tribeca_insights_spark.operators.linkgraph import bfs_min_dist

    edges = spark.createDataFrame([Row(src=0, dst=1), Row(src=5, dst=1)])
    seeds = spark.createDataFrame([Row(node=0), Row(node=5), Row(node=5)])
    got0 = {r.node: r.dist for r in bfs_min_dist(edges, seeds, k=0).collect()}
    assert got0 == {0: 0, 5: 0}  # duplicate seeds collapse
    got1 = {r.node: r.dist for r in bfs_min_dist(edges, seeds, k=1).collect()}
    assert got1 == {0: 0, 5: 0, 1: 1}  # two sources converge, emitted once
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bfs_min_dist(edges, seeds, k=-1)


# --- recrawl priority --------------------------------------------------------


def test_recrawl_priority_buckets(spark):
    from tribeca_insights_spark.plans.snapshot import recrawl_priority

    diffs = spark.createDataFrame(
        [
            Row(url="u0", status="unchanged"),
            Row(url="u0", status="unchanged"),
            Row(url="u1", status="changed"),
            Row(url="u1", status="unchanged"),
            Row(url="u2", status="changed"),
            Row(url="u2", status="added"),   # added counts as churn
            Row(url="u3", status="changed"),
            Row(url="u3", status="changed"),
            Row(url="u3", status="changed"),  # 3 changes clamp to last
        ]
    )
    out = {r.url: r for r in recrawl_priority(diffs).collect()}
    assert out["u0"].n_changes == 0
    assert out["u0"].recrawl_interval == "30d"
    assert out["u1"].recrawl_interval == "7d"
    assert out["u2"].n_changes == 2 and out["u2"].recrawl_interval == "1d"
    assert out["u3"].n_changes == 3 and out["u3"].recrawl_interval == "1d"
    assert out["u1"].n_observations == 2


def test_recrawl_priority_custom_intervals(spark):
    from tribeca_insights_spark.plans.snapshot import recrawl_priority

    diffs = spark.createDataFrame(
        [Row(url="u", status="changed")]
    )
    r = recrawl_priority(diffs, intervals=("slow", "fast")).first()
    assert r.recrawl_interval == "fast"


# --- SCD2 history -----------------------------------------------------------


def _scd2(spark, rows):
    from datetime import datetime

    from pyspark.sql import Row

    from tribeca_insights_spark.plans.snapshot import scd2_history

    df = spark.createDataFrame(
        [
            Row(k=k, s=s, ts=datetime(2026, 1, d), eid=i)
            for i, (k, s, d) in enumerate(rows)
        ]
    )
    return sorted(
        (
            (r["k"], r["state"], r["valid_from"].day,
             r["valid_to"].day if r["valid_to"] else None,
             r["is_current"])
            for r in scd2_history(
                df, ["k"], "s", tiebreak_col="eid"
            ).collect()
        )
    )


def test_scd2_runs_collapse_and_intervals(spark):
    # key a: A A B A -> three runs; key b: single open row
    out = _scd2(
        spark,
        [("a", "A", 1), ("a", "A", 2), ("a", "B", 3), ("a", "A", 4),
         ("b", "X", 2)],
    )
    assert out == [
        ("a", "A", 1, 3, False),
        ("a", "A", 4, None, True),
        ("a", "B", 3, 4, False),
        ("b", "X", 2, None, True),
    ]


def test_scd2_no_change_single_interval(spark):
    out = _scd2(spark, [("a", "A", 1), ("a", "A", 5), ("a", "A", 9)])
    assert out == [("a", "A", 1, None, True)]


def test_scd2_at_time_t_lookup(spark):
    # the point of the table: status AT day 3 for key a is the interval
    # containing day 3
    out = _scd2(
        spark, [("a", "A", 1), ("a", "B", 2), ("a", "C", 6)]
    )
    covering = [
        s for (_, s, lo, hi, _) in out if lo <= 3 and (hi is None or 3 < hi)
    ]
    assert covering == ["B"]
