"""Physical-plan assertions — the 100-TB design invariants, checked on the
actual Catalyst output (SURVEY.md §4). These pin:

* column pruning + predicate pushdown reach the parquet scan;
* small-dim joins broadcast (no sort-merge for customer⋈orders at test SF);
* extraction is shuffle-free (Scan → ArrowEvalPython → Project only);
* corpus TF does partial (map-side) aggregation before its single shuffle;
* the native tokenizer stays inside WholeStageCodegen.
"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_filter_and_projection_pushed_to_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    p = plan_str(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: scan reads only the 3 needed columns of 16
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" in rs and "l_quantity" in rs and "l_shipdate" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs


def test_small_dim_join_broadcasts(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    df = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).groupBy(
        "c_mktsegment"
    ).count()
    p = plan_str(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_extraction_plan_is_shuffle_free(spark):
    from tribeca_insights_spark.fixtures import corpus_df
    from tribeca_insights_spark.operators.extract import extract_pages

    docs = corpus_df(spark, 8)
    p = plan_str(extract_pages(docs))
    assert "ArrowEvalPython" in p  # vectorized UDF, not BatchEvalPython
    assert "BatchEvalPython" not in p  # no per-row Python
    assert "Exchange" not in p  # embarrassingly parallel — no shuffle


def test_corpus_tf_partial_aggregation(spark):
    from tribeca_insights_spark.fixtures import corpus_df
    from tribeca_insights_spark.operators.extract import extract_token_strings
    from tribeca_insights_spark.operators.tf import corpus_tf

    docs = corpus_df(spark, 8)
    p = plan_str(corpus_tf(extract_token_strings(docs)), "simple")
    # one shuffle, on word, fed by the map-side partial aggregate: the
    # tree string prints an operator's child on the next line
    lines = p.splitlines()
    ex = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(" in ln]
    assert len(ex) == 1 and "hashpartitioning(word#" in lines[ex[0]]
    assert "partial_count" in lines[ex[0] + 1]


def test_native_tokenizer_stays_in_codegen(spark):
    from tribeca_insights_spark.functions.tokenize import with_tokens

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = with_tokens(d).select("doc_id", F.size("tokens").alias("n"))
    p = plan_str(t)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # stopword dim joins as a broadcast, never a shuffle join
    assert "SortMergeJoin" not in p
    # codegen spans are only visible on the non-adaptive physical plan
    # (AQE's pre-execution plan hides WholeStageCodegen subtrees)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        t2 = with_tokens(d).select("doc_id", F.size("tokens").alias("n"))
        assert "Found 0 WholeStageCodegen" not in plan_str(t2, "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_anti_join_resume_no_cartesian(spark):
    """The resume scan (pending = docs ANTI completed) must plan as a real
    anti join — broadcast or shuffled-hash — never nested-loop/cartesian."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    done = d.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    pending = d.join(done, "doc_id", "left_anti")
    p = plan_str(pending)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftAnti" in p


def test_schedule_fetches(spark):
    from pyspark.sql import functions as F

    from tribeca_insights_spark.plans.frontier import schedule_fetches

    frontier = spark.createDataFrame(
        [(f"https://a.com/{i}",) for i in range(4)]
        + [("https://b.com/x",), ("https://c.com/y",)],
        "url string",
    )
    delays = spark.createDataFrame(
        [("a.com", 2.0), ("b.com", 5.0)], "domain string, crawl_delay double"
    )
    out = {r["url"]: r for r in schedule_fetches(frontier, delays).collect()}
    # a.com urls ranked by url asc, spaced 2s apart
    for i in range(4):
        r = out[f"https://a.com/{i}"]
        assert r["fetch_rank"] == i + 1
        assert r["scheduled_offset_sec"] == 2.0 * i
    assert out["https://b.com/x"]["scheduled_offset_sec"] == 0.0
    # domain missing from the dim → reference default delay 0
    assert out["https://c.com/y"]["scheduled_offset_sec"] == 0.0


def test_bucketed_interval_join_vs_naive(spark):
    """Bucketed equi-join rewrite must equal the naive theta join,
    including windows spanning bucket boundaries."""
    import datetime as dt

    from pyspark.sql import functions as F

    from tribeca_insights_spark.operators.joins import bucketed_interval_join

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    events = spark.createDataFrame(
        [(i, 1, base + dt.timedelta(minutes=17 * i)) for i in range(40)]
        + [(100, 2, base + dt.timedelta(minutes=5))],
        "event_id long, user_id long, ts timestamp",
    )
    windows = spark.createDataFrame(
        [
            (1, 1, base + dt.timedelta(minutes=50),
             base + dt.timedelta(minutes=130)),   # spans 2 hour-buckets
            (2, 1, base, base + dt.timedelta(minutes=1)),
            (3, 2, base, base + dt.timedelta(hours=3)),
        ],
        "win_id long, user_id long, start_ts timestamp, end_ts timestamp",
    )
    fast = bucketed_interval_join(events, windows, keys=["user_id"])
    naive = events.join(
        windows, "user_id"
    ).filter((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
    k = lambda rows: sorted((r["event_id"], r["win_id"]) for r in rows)
    assert k(fast.collect()) == k(naive.collect())
    assert k(fast.collect())  # non-empty


def test_salted_skew_join_matches_plain_join(spark):
    from tribeca_insights_spark.operators.joins import salted_skew_join

    # key "hot" has 40 rows (skewed); "a"/"b" are cold
    big = spark.createDataFrame(
        [(i, "hot" if i < 40 else ("a" if i % 2 else "b"))
         for i in range(60)],
        "id long, k string",
    )
    dim = spark.createDataFrame(
        [("hot", 1), ("a", 2), ("b", 3), ("unmatched", 4)],
        "k string, v long",
    )
    out = salted_skew_join(big, dim, "k", salt_source="id",
                           n_salts=4, hot_threshold=10)
    plain = big.join(dim, "k")
    key = lambda rows: sorted((r["id"], r["k"], r["v"]) for r in rows)
    assert key(out.collect()) == key(plain.collect())
    assert out.count() == 60


def test_salted_skew_join_left_keeps_unmatched_once(spark):
    from tribeca_insights_spark.operators.joins import salted_skew_join

    big = spark.createDataFrame(
        [(i, "hot") for i in range(30)] + [(99, "lonely")],
        "id long, k string",
    )
    dim = spark.createDataFrame([("hot", 7)], "k string, v long")
    out = salted_skew_join(big, dim, "k", salt_source="id",
                           n_salts=3, hot_threshold=5, how="left")
    rows = {(r["id"], r["v"]) for r in out.collect()}
    assert (99, None) in rows
    assert out.count() == 31  # no dim replication leaks into the result


def test_salted_skew_join_actually_spreads_hot_key(spark):
    from pyspark.sql import functions as F

    from tribeca_insights_spark.operators.joins import salted_skew_join

    big = spark.createDataFrame(
        [(i, "hot") for i in range(64)], "id long, k string"
    )
    dim = spark.createDataFrame([("hot", 1)], "k string, v long")
    # distinct crc32(id)%4 values over 64 ids must exceed 1 — the hot
    # key's rows genuinely land in multiple salt buckets
    n_buckets = (
        big.select((F.crc32(F.col("id").cast("string")) % 4).alias("s"))
        .distinct()
        .count()
    )
    assert n_buckets > 1
    out = salted_skew_join(big, dim, "k", salt_source="id",
                           n_salts=4, hot_threshold=5)
    assert out.count() == 64


def test_salted_skew_join_rejects_bad_args(spark):
    import pytest

    from tribeca_insights_spark.operators.joins import salted_skew_join

    df = spark.createDataFrame([(1, "a")], "id long, k string")
    with pytest.raises(ValueError):
        salted_skew_join(df, df, "k", "id", how="full")
    with pytest.raises(ValueError):
        salted_skew_join(df, df, "k", "id", n_salts=1)


def test_compaction_plan_next_fit_groups(spark):
    from tribeca_insights_spark.plans.compaction import (
        compaction_plan,
        compaction_summary,
    )

    files = spark.createDataFrame(
        # partition p: 60+60 (group 0, cum_excl 0,60) | 60 starts at 120
        # -> group 1 | 200-byte monster starts at 180 -> group 1 too |
        # next starts at 380 -> group 3
        [("p", 1, 60), ("p", 2, 60), ("p", 3, 60), ("p", 4, 200),
         ("p", 5, 10), ("q", 1, 1)],
        "part string, file_id long, bytes long",
    )
    plan = compaction_plan(files, ["part"], target_bytes=100)
    got = {
        (r["part"], r["file_id"]): r["group_id"] for r in plan.collect()
    }
    assert got == {("p", 1): 0, ("p", 2): 0, ("p", 3): 1, ("p", 4): 1,
                   ("p", 5): 3, ("q", 1): 0}
    summ = {
        (r["part"], r["group_id"]): (r["n_files"], r["group_bytes"])
        for r in compaction_summary(plan, ["part"]).collect()
    }
    assert summ[("p", 0)] == (2, 120)
    assert summ[("p", 1)] == (2, 260)
    assert summ[("q", 0)] == (1, 1)


def test_compaction_plan_partition_independence(spark):
    from tribeca_insights_spark.plans.compaction import compaction_plan

    files = spark.createDataFrame(
        [(p, i, 50) for p in ("a", "b") for i in range(6)],
        "part string, file_id long, bytes long",
    )
    plan = compaction_plan(files, ["part"], target_bytes=100)
    # identical per-partition layout -> identical group sequence in each
    for p in ("a", "b"):
        ids = sorted(
            (r["file_id"], r["group_id"])
            for r in plan.filter(F.col("part") == p).collect()
        )
        assert ids == [(0, 0), (1, 0), (2, 1), (3, 1), (4, 2), (5, 2)]


def test_compaction_plan_rejects_bad_target(spark):
    import pytest

    from tribeca_insights_spark.plans.compaction import compaction_plan

    df = spark.createDataFrame([("a", 1, 1)],
                               "part string, file_id long, bytes long")
    with pytest.raises(ValueError):
        compaction_plan(df, ["part"], target_bytes=0)
