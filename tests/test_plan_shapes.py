"""Physical-plan regression tests: the scale properties this engine's
100-TB story depends on are PLAN shapes, not just result values — pin
them so a future refactor can't silently reintroduce a sort-aggregate,
a nested-loop join, or an extraction shuffle."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    from tribeca_insights_spark.entry_queries import documents_as_pages

    return documents_as_pages(spark, "/root/testdata/sf0.001")


def test_extraction_has_no_exchange(docs):
    """Extraction is embarrassingly parallel: Scan → ArrowEvalPython →
    Project. Any Exchange here would reshuffle raw html bytes."""
    from tribeca_insights_spark.operators.extract import extract_pages

    p = _plan(extract_pages(docs))
    assert "ArrowEvalPython" in p
    assert "Exchange" not in p


def test_minhash_aggregates_on_hash_fast_path(spark):
    """min over fixed-width longs must stay on HashAggregate —
    min(string) buffers fall back to SortAggregate (a full sort of the
    shingle stream, measured 2× slower end-to-end)."""
    from tribeca_insights_spark.operators.dedup import (
        char_shingles,
        minhash_signatures,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", F.col("text").alias("tokens_str")
    )
    p = _plan(minhash_signatures(char_shingles(d)))
    assert "HashAggregate" in p
    assert "SortAggregate" not in p


def test_stopword_dim_broadcasts(spark):
    from tribeca_insights_spark.functions.tokenize import with_tokens

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(with_tokens(d))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_corpus_tf_one_shuffle(spark, docs):
    """Corpus TF shuffles once, on word, with the map-side partial count
    directly beneath the exchange — no salt round, no SortAggregate."""
    from tribeca_insights_spark.operators.extract import extract_token_strings
    from tribeca_insights_spark.operators import tf as tfops

    p = _plan(tfops.corpus_tf(extract_token_strings(docs)))
    lines = p.splitlines()
    ex = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(" in ln]
    assert len(ex) == 1 and "hashpartitioning(word#" in lines[ex[0]]
    assert "partial_count" in lines[ex[0] + 1]
    assert "SortAggregate" not in p


def test_domain_top_keywords_parse_once_one_shuffle_partial_limit(spark, docs):
    """On the executed (AQE final) plan: the domain is parsed once per page
    (a Project below the Generate), (domain, word) is counted with one
    shuffle, and a partial WindowGroupLimit below the domain exchange bounds
    a hot domain's rows into the window — the skew bound salting gave."""
    import re

    from tribeca_insights_spark.operators.extract import extract_token_strings
    from tribeca_insights_spark.operators import tf as tfops

    q = tfops.domain_top_keywords(extract_token_strings(docs), k=3)
    q.collect()
    final = _plan(q).split("== Initial Plan ==")[0]
    lines = final.splitlines()
    gen = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    parse = [i for i, ln in enumerate(lines) if "ParseUrl" in ln]
    assert len(gen) == 1 and parse
    assert all(i > gen[0] and "Project [" in lines[i] for i in parse)
    agg = [i for i, ln in enumerate(lines)
           if re.search(r"Exchange hashpartitioning\(domain#\d+, word#", ln)]
    assert len(agg) == 1 and "partial_count" in lines[agg[0] + 1]
    win = [i for i, ln in enumerate(lines)
           if re.search(r"Exchange hashpartitioning\(domain#\d+, \d+\)", ln)]
    assert len(win) == 1
    assert "WindowGroupLimit" in lines[win[0] + 1]
    assert lines[win[0] + 1].rstrip().endswith("Partial")


def test_resume_anti_join_is_hash_based(spark, tmp_path, docs):
    from tribeca_insights_spark.plans import state as st
    from tribeca_insights_spark.plans.pipeline import run_extraction

    root = str(tmp_path / "pipe")
    run_extraction(spark, docs.drop("doc_id").limit(50), root, n_buckets=4)
    p = _plan(st.pending(docs.drop("doc_id"), spark, root))
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_interval_join_never_nested_loop(spark):
    """The bucketed rewrite must plan as an equi-join; Catalyst plans the
    naive theta version as BroadcastNestedLoopJoin."""
    from tribeca_insights_spark.operators.joins import bucketed_interval_join

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    w = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("win_id"), "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    p = _plan(bucketed_interval_join(e.select("user_id", "ts", "event_id"), w,
                                     keys=["user_id"]))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) \
        or ("ShuffledHashJoin" in p)


def test_tf_idf_df_dim_broadcasts(spark, docs):
    """The |vocab|-sized df dim broadcasts onto TF; the only nested-loop
    allowed is the 1-row scalar-N crossJoin."""
    from tribeca_insights_spark.operators.extract import extract_token_strings
    from tribeca_insights_spark.operators import tf as tfops

    ex = extract_token_strings(docs.limit(100))
    p = _plan(tfops.tf_idf(ex))
    assert "BroadcastHashJoin" in p


def test_dsir_weight_dim_broadcasts(spark):
    """The <=n_buckets-row LLR-weight dim must broadcast back onto the
    (doc,bucket) counts — the corpus side never reshuffles for scoring.
    The only nested-loop allowed is the 1-row totals crossJoin."""
    from tribeca_insights_spark.operators.dsir import dsir_importance

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(dsir_importance(d, F.col("lang") == "en"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_mixture_sample_rates_broadcast_no_extra_shuffle(spark):
    """Rates join is a broadcast directly above the scan; the corpus
    never exchanges for sampling (the only Exchange is the tiny distinct
    building the rates dim itself)."""
    from tribeca_insights_spark.operators.mixing import mixture_sample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rates = d.select("source").distinct().withColumn(
        "rate_micros", F.lit(500000).cast("long")
    )
    p = _plan(mixture_sample(d, rates))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_bigram_lm_no_cartesian_beyond_scalar_vocab(spark):
    """LM scoring joins are equi-joins; the single-row vocab-size dim is
    the only broadcast-nested-loop (cross) allowed."""
    from tribeca_insights_spark.operators.lm import bigram_lm_score

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(bigram_lm_score(d, F.col("lang") == "en"))
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # 1-row vocab dim only


def test_keep_best_is_partial_agg_not_window(spark):
    """Cluster retention must plan as HashAggregate (map-side combine on
    the argmax struct) — a Window would sort every member of every
    cluster after the shuffle, the skew bottleneck at boilerplate-cluster
    sizes."""
    from tribeca_insights_spark.operators.dedup import keep_best

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", F.md5("text").alias("ck"),
        F.length("text").cast("long").alias("n_chars"),
    )
    p = _plan(keep_best(d, "ck", "n_chars"))
    assert "HashAggregate" in p
    assert "Window" not in p
    assert "SortAggregate" not in p  # max(struct)/max_by would trip this


def test_hashed_classifier_no_exchange(spark):
    """Classifier scoring is a narrow map above the scan — any Exchange
    means the dot product stopped being embarrassingly parallel."""
    from tribeca_insights_spark.operators.classifier import (
        hashed_linear_score,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(hashed_linear_score(d))
    assert "Exchange" not in p


def test_normalize_text_no_exchange_no_python(spark):
    from tribeca_insights_spark.functions.normalize import (
        with_normalized_text,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(with_normalized_text(d))
    assert "Exchange" not in p
    assert "Python" not in p  # pure codegen'd regexp, no UDF


def test_token_budget_totals_broadcast(spark):
    """Both water-filling totals must come back as broadcast 1-row joins
    (in-dataflow), never a shuffled join of the domain dim against a
    scalar."""
    from pyspark.sql import Row
    from tribeca_insights_spark.operators.mixing import token_budget_rates

    dt = spark.createDataFrame([Row(source=f"s{i}", n_tokens=1000 + i)
                                for i in range(10)])
    w = spark.createDataFrame([Row(source=f"s{i}", weight_micros=100000 + i)
                               for i in range(10)])
    p = _plan(token_budget_rates(dt, w, budget=5000))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_blocklist_broadcast_equi_join(spark):
    """Suffix blocklist must be a BROADCAST EQUI-join on the exploded
    suffix — never a LIKE/endswith nested loop against the list."""
    from pyspark.sql import Row
    from tribeca_insights_spark.operators.blocklist import (
        domain_block_flags,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, host=f"h{i}.example.com") for i in range(20)]
    )
    bl = spark.createDataFrame([("example.com",)], "entry string")
    p = _plan(domain_block_flags(docs, bl))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_anchor_stats_single_shuffle(spark):
    """Anchor aggregation: Arrow parse + explode stay narrow; exactly
    one Exchange (the groupBy on target) in the whole plan."""
    from tribeca_insights_spark.operators.linkgraph import (
        anchor_pairs,
        anchor_text_stats,
    )
    from tribeca_insights_spark.entry_queries import documents_as_pages

    d = documents_as_pages(spark, "/root/testdata/sf0.001")
    p = _plan(anchor_text_stats(anchor_pairs(d)))
    # pair-count stage + target rollup: two Exchanges, nothing beyond
    assert p.count("Exchange hashpartitioning") <= 2
    # the full exploded link stream must partial-agg on HashAggregate;
    # SortAggregate (min-of-string buffer) may only touch the distinct
    # pair set, i.e. no node sorts raw pairs before the first Exchange
    sections = p.split("\n\n(")
    for s in sections:
        if s.startswith("SortAggregate") or (") SortAggregate" in s[:40]):
            assert "partial_count(1)" not in s or "cnt" in s
    assert "HashAggregate" in p


def test_pagerank_no_cartesian(spark):
    from pyspark.sql import Row
    from tribeca_insights_spark.operators.linkgraph import pagerank_micros

    e = spark.createDataFrame(
        [Row(src=i, dst=(i * 7 + 3) % 50) for i in range(50)]
    )
    p = _plan(pagerank_micros(e, n_iter=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_main_content_zero_shuffle(spark):
    """Boilerplate removal must stay Scan -> ArrowEvalPython -> Project:
    the block array never explodes and classification is array-expression
    codegen — zero Exchange in the whole plan."""
    from tribeca_insights_spark.operators.boilerplate import main_content
    from tribeca_insights_spark.entry_queries import documents_as_pages

    d = documents_as_pages(spark, "/root/testdata/sf0.001")
    p = _plan(main_content(d))
    assert "Exchange" not in p
    assert "ArrowEvalPython" in p


def test_exploded_walkers_single_arrow_pass(spark):
    """Explode over an Arrow-UDF-backed column must evaluate the Python
    walker ONCE: a plain explode lets InferFiltersFromGenerate add a
    `size(udf(..)) > 0` pre-filter that re-runs the whole parse (two
    ArrowEvalPython nodes). Pinned for table_rows, exploded_blocks, and
    content_spans — all zero-Exchange as well."""
    from tribeca_insights_spark.entry_queries import documents_as_pages
    from tribeca_insights_spark.operators.boilerplate import (
        content_spans,
        exploded_blocks,
    )
    from tribeca_insights_spark.operators.tables import table_rows

    d = documents_as_pages(spark, "/root/testdata/sf0.001")
    for df in (table_rows(d), exploded_blocks(d), content_spans(d)):
        p = _plan(df)
        assert p.count("ArrowEvalPython") == 1
        assert "Exchange" not in p


def test_bfs_no_cartesian_no_actions_in_plan(spark):
    from pyspark.sql import Row
    from tribeca_insights_spark.operators.linkgraph import bfs_min_dist

    e = spark.createDataFrame(
        [Row(src=i, dst=(i * 7 + 3) % 50) for i in range(50)]
    )
    seeds = spark.createDataFrame([Row(node=0), Row(node=7)])
    p = _plan(bfs_min_dist(e, seeds, k=3))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_template_dim_broadcast_and_no_cartesian(spark):
    """template_blocks joins the per-host page-count dim broadcast; the
    two-tier subtraction joins the template array broadcast. Neither may
    degrade to a cartesian/nested-loop."""
    from tribeca_insights_spark.entry_queries import documents_as_pages
    from tribeca_insights_spark.operators.boilerplate import (
        main_content_site_aware,
        template_blocks,
    )
    import pyspark.sql.functions as F

    d = documents_as_pages(spark, "/root/testdata/sf0.001").withColumn(
        "host", F.regexp_extract("url", r"^https://([^/]+)/", 1)
    )
    for df in (template_blocks(d), main_content_site_aware(d)):
        p = _plan(df)
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_exact_substring_no_window_sort(spark):
    """The canonical pick must stay a partial-agg min(struct), never a
    corpus-wide Window sort; all joins hash-based."""
    from tribeca_insights_spark.operators.dedup import dedup_exact_substring

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "a b c d e f g h j")],
        "doc_id int, text string",
    )
    p = _plan(dedup_exact_substring(df, k=4))
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p


def test_triangle_and_lpa_no_window_no_cartesian(spark):
    """Graph rounds must stay joins + HashAggregates: a WindowExec or
    an unbounded CartesianProduct in the loop is the 10^12-node
    scale-killer (the q84 lesson)."""
    from tribeca_insights_spark.operators.linkgraph import (
        label_propagation,
        triangle_counts,
    )

    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 50) for i in range(50)], "src long, dst long"
    )
    for df in (triangle_counts(e), label_propagation(e, n_iter=2)):
        p = _plan(df)
        assert "WindowExec" not in p
        assert "CartesianProduct" not in p


def test_salted_join_hot_dim_broadcast_and_salted_partitioning(spark):
    """Hot-key marking must ride BroadcastHashJoins (the hot-key dim is
    key-sized) and the main join must shuffle on (key, salt) — salt
    missing from the partitioning means the skew is back."""
    from tribeca_insights_spark.operators.joins import salted_skew_join

    big = spark.createDataFrame(
        [(i, "k%d" % (i % 3)) for i in range(30)], "id long, k string"
    )
    dim = spark.createDataFrame(
        [("k0", 1), ("k1", 2), ("k2", 3)], "k string, v long"
    )
    p = _plan(salted_skew_join(big, dim, "k", "id", n_salts=4,
                               hot_threshold=5))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "_salt" in p  # join keys include the salt column


def test_scd2_single_exchange(spark):
    """All three SCD2 window steps must share ONE hash Exchange on the
    key — a second Exchange means the windows disagree on
    partitioning."""
    import datetime as dt

    from tribeca_insights_spark.plans.snapshot import scd2_history

    log = spark.createDataFrame(
        [(1, "a", dt.datetime(2026, 1, 1), 1)],
        "k long, s string, ts timestamp, eid long",
    )
    p = _plan(scd2_history(log, ["k"], "s", tiebreak_col="eid"))
    assert p.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in p


def test_compaction_window_is_partitioned(spark):
    from tribeca_insights_spark.plans.compaction import compaction_plan

    files = spark.createDataFrame(
        [("a", 1, 10)], "part string, file_id long, bytes long"
    )
    p = _plan(compaction_plan(files, ["part"]))
    assert "SinglePartition" not in p
    assert "Exchange hashpartitioning" in p


def test_funnel_no_window_user_sized_shuffles(spark):
    import datetime as dt

    from tribeca_insights_spark.operators.funnel import funnel_stages

    ev = spark.createDataFrame(
        [(1, "view", dt.datetime(2026, 1, 1))],
        "user_id long, event_type string, ts timestamp",
    )
    p = _plan(funnel_stages(ev, ["view", "click", "purchase"]))
    assert "WindowExec" not in p
    assert "CartesianProduct" not in p


def test_ols_single_aggregate_no_window(spark):
    from tribeca_insights_spark.operators.stats import grouped_ols

    rows = spark.createDataFrame(
        [("g", 1, 2)], "g string, x long, y long"
    )
    p = _plan(grouped_ols(rows, ["g"], "x", "y"))
    assert "WindowExec" not in p
    # two-phase hash agg over one Exchange; the stats never sort
    assert "SortAggregate" not in p


def test_edit_distance_verify_thresholded_and_gated(spark):
    """The exact-Levenshtein verifier must plan with (a) the banded
    3-arg levenshtein (O(k·min(n,m)) early exit — the unbounded 2-arg
    form measured 956 s vs seconds at sf0.1) and (b) the length gate
    BEFORE the DP, so pairs whose length gap alone breaks the
    similarity bar never run it. Both live in the same codegen stage —
    no Exchange beyond the two doc-text hash joins."""
    from tribeca_insights_spark.operators.dedup import edit_distance_verify

    pairs = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdxf")], "doc_id long, text string"
    )
    df = edit_distance_verify(pairs, docs, min_sim_micros=500_000)
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    try:
        p = _plan(df)
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
    # the threshold arg renders as Some(<expr>) in the plan string —
    # a bare 2-arg levenshtein would render levenshtein(_ta#N, _tb#M)
    assert "levenshtein(_ta" in p and "Some(greatest(" in p, (
        "thresholded 3-arg levenshtein missing from plan"
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # semantics unchanged by the gates: the 1-edit pair still verifies
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["lev"] == 1


def test_line_dedup_and_bpe_encode_no_exchange_no_python(spark):
    """q155/q156 corpus paths are pure whole-stage codegen: one Project
    above the scan — no shuffle, no Python worker."""
    from tribeca_insights_spark.operators.bpe import bpe_encode
    from tribeca_insights_spark.operators.dedup import (
        dedup_lines_within_doc,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(dedup_lines_within_doc(d))
    assert "Exchange" not in p
    assert "Python" not in p
    p = _plan(bpe_encode(d, [("t", "h"), ("th", "e")]))
    assert "Exchange" not in p
    assert "Python" not in p


def test_roc_points_no_window(spark):
    """q154's descending-threshold sweep must run as array prefix sums
    inside one row — a WindowExec here means a single-partition sort of
    the scored corpus (the q84 failure mode)."""
    from tribeca_insights_spark.operators.classifier import roc_points

    d = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(
        (F.col("doc_id") % 100).alias("score_micros"),
        (F.col("doc_id") % 3 == 0).alias("label"),
    )
    p = _plan(roc_points(d))
    assert "Window" not in p
    assert "HashAggregate" in p


def test_pmi_totals_broadcast_no_corpus_window(spark):
    """q153: corpus totals ride in as broadcast 1-row scalars; the PMI
    join keys on vocabulary-sized tables; no window anywhere."""
    from tribeca_insights_spark.functions.tokenize import with_tokens
    from tribeca_insights_spark.operators.tf import pmi_collocations

    d = with_tokens(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    p = _plan(pmi_collocations(d, min_count=2, k=10))
    assert "BroadcastNestedLoopJoin" in p  # the 1-row scalar attach
    assert "Window" not in p
    assert "TakeOrderedAndProject" in p  # top-k, never a global sort


def test_zipf_window_partitioned_wilson_single_agg(spark):
    """q158's rank window must be partitioned (vocab table, per-lang);
    q157 is one partial agg + per-row codegen."""
    from tribeca_insights_spark.functions.tokenize import with_tokens
    from tribeca_insights_spark.operators.textstats import (
        wilson_bounds,
        zipf_slope,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(zipf_slope(with_tokens(d)))
    assert "Window" in p
    assert "No Partition Defined" not in p  # belt: WARN text never in plan
    # the window's partition spec names the group column
    assert "partitionBy" not in p or "grp" in p
    p2 = _plan(wilson_bounds(d.select("source", (F.length("text") >= 200).alias("is_good"))))
    assert p2.count("Exchange") <= 1
    assert "Window" not in p2


def test_mirror_and_url_templates_single_shuffle(spark):
    """q160/q161: one map-combined partial agg each — exactly one
    Exchange, text/url strings only shuffle as agg keys."""
    from tribeca_insights_spark.functions.urlnorm import url_path_templates
    from tribeca_insights_spark.operators.dedup import mirror_hosts

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string")).alias("host"),
        "text",
    )
    assert _plan(mirror_hosts(pages)).count("Exchange") == 1
    urls = d.select(
        F.concat(F.lit("https://a.com/docs/"), F.col("doc_id").cast("string")).alias("url")
    )
    assert _plan(url_path_templates(urls)).count("Exchange") == 1


def test_ra_no_cartesian_burstiness_hash_agg(spark):
    """q166-q171 wave: resource_allocation's wedge generator must stay
    an equi-join (never a nested-loop/cartesian), and term_burstiness
    must keep both aggregate stages on HashAggregate with the corpus
    size as a broadcast scalar."""
    from pyspark.sql import Row

    from tribeca_insights_spark.operators.linkgraph import (
        resource_allocation,
    )
    from tribeca_insights_spark.operators.textstats import (
        term_burstiness,
    )

    e = spark.createDataFrame([Row(src=1, dst=2), Row(src=2, dst=3)])
    p = _plan(resource_allocation(e))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p2 = _plan(term_burstiness(d))
    assert "SortAggregate" not in p2
    assert "HashAggregate" in p2
    assert "WindowExec" not in p2
    # N rides in as a broadcast 1-row scalar, not a shuffle join
    assert "BroadcastNestedLoopJoin" in p2 or "BroadcastExchange" in p2


def test_calibration_and_agreement_no_window_no_python(spark):
    """calibration_bins: fixed-range bins — no quantile window, no
    Python row path; dedup_agreement: one equi-join + single
    aggregate."""
    from pyspark.sql import Row

    from tribeca_insights_spark.operators.classifier import (
        calibration_bins,
    )
    from tribeca_insights_spark.operators.dedup import dedup_agreement

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(
        calibration_bins(
            d,
            label=F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
    )
    assert "WindowExec" not in p
    assert "BatchEvalPython" not in p
    assert "SortAggregate" not in p

    a = spark.createDataFrame([Row(doc_id=1, flag=1), Row(doc_id=2, flag=0)])
    p2 = _plan(dedup_agreement(a, a))
    assert "CartesianProduct" not in p2
    assert "WindowExec" not in p2


def test_rake_window_partitioned_kwic_no_exchange(spark):
    """q172/q174: RAKE's phrase-id window must stay PARTITIONED BY the
    document (a global window would single-task the corpus — the q84
    failure mode); KWIC is pure array codegen above the scan — zero
    Exchange, zero Python."""
    from tribeca_insights_spark.operators.textstats import (
        kwic_concordance,
        rake_keywords,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(rake_keywords(d, stopwords=["the", "a"]))
    assert "Window" in p
    # every Window node carries a partition spec (no global window)
    for line in p.splitlines():
        if "Window [" in line or "WindowExec" in line:
            assert "windowspecdefinition(_doc" in line or \
                "partitionBy" in line or "_doc" in line

    p2 = _plan(kwic_concordance(d, probe="join"))
    assert "Exchange" not in p2
    assert "BatchEvalPython" not in p2 and "ArrowEvalPython" not in p2


def test_wave_def_hashagg_no_global_window(spark):
    """q176-q184 wave: every new statistic is partial-agg shaped — no
    SortAggregate, no unpartitioned window anywhere."""
    from pyspark.sql import Row

    from tribeca_insights_spark.operators.dedup import (
        cluster_size_histogram,
    )
    from tribeca_insights_spark.operators.linkgraph import (
        degree_assortativity,
    )
    from tribeca_insights_spark.operators.mixing import (
        sqrt_temperature_rates,
    )
    from tribeca_insights_spark.operators.textstats import (
        group_label_entropy,
        histogram_quantiles,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dt = d.groupBy("source").agg(F.count("*").alias("n_tokens"))
    for df in (
        sqrt_temperature_rates(dt),
        cluster_size_histogram(
            d.select(F.col("source").alias("ck")), key_col="ck"
        ),
        group_label_entropy(
            d.select(F.col("source").alias("host"), "lang")
        ),
        degree_assortativity(
            spark.createDataFrame([Row(src=1, dst=2), Row(src=2, dst=3)])
        ),
    ):
        p = _plan(df)
        assert "SortAggregate" not in p
        assert "WindowExec" not in p and "Window [" not in p

    # histogram_quantiles' one window must be partitioned by the group
    p = _plan(histogram_quantiles(d))
    for line in p.splitlines():
        if "Window [" in line:
            assert "windowspecdefinition(grp" in line or "grp" in line


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Joining two catalog tables bucketed on the join key must plan
    with ZERO Exchange (the shuffle was paid at write time) — and the
    same data read as plain parquet must still shuffle, proving the
    bucketing metadata (not file layout luck) is what removes it."""
    from tribeca_insights_spark.operators.joins import (
        bucketed_colocated_join,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    left = d.select("doc_id", "n_chars")
    right = d.select("doc_id", "source")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_colocated_join(
            spark, left, right, "doc_id", 4, str(tmp_path),
            names=("ps_bj_l", "ps_bj_r"),
        )
        p = _plan(j)
        assert "Exchange" not in p, p
        # contrast: plain parquet reads of the SAME files do shuffle
        pl = spark.read.parquet(str(tmp_path / "ps_bj_l"))
        pr = spark.read.parquet(str(tmp_path / "ps_bj_r"))
        p2 = _plan(pl.join(pr, "doc_id"))
        assert "Exchange" in p2, p2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS ps_bj_l")
        spark.sql("DROP TABLE IF EXISTS ps_bj_r")


def test_tfidf_cosine_pairs_no_cartesian(spark):
    """The tf-idf similarity self-join must stay an equi-join on term —
    never a nested-loop/cartesian over docs."""
    from tribeca_insights_spark.operators.similarity import (
        tfidf_cosine_pairs,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(tfidf_cosine_pairs(d))
    assert "CartesianProduct" not in p
    # the only nested-loop joins allowed are the broadcast 1-row corpus
    # scalar (the df-cap filter); the pair generator itself must be a
    # hash/merge equi-join on term
    import re

    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"
                     r" \[term", p), p
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "_n#" in line, line  # 1-row scalar build side only
