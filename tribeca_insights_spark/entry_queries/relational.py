"""TPC-H-ish relational breadth, state/resume, sessions, lakehouse layout.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


# --- state / resume (SURVEY §1.2, §2.3 R1, R9, R11) -------------------------

@q(
    "q10_resume_pending",
    """
    WITH state AS (
      SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS status
      FROM documents
    )
    SELECT d.doc_id FROM documents d
    LEFT JOIN (SELECT doc_id FROM state WHERE status = 1) done
      ON d.doc_id = done.doc_id
    WHERE done.doc_id IS NULL
    """,
)
def q10_resume_pending(spark, sf_dir):
    """visited_urls Status==2 scan re-expressed as a left-anti join
    (crawler.py:215 → SURVEY §1.2). State synthesized: doc_id%3==0 done."""
    d = _read(spark, sf_dir, "documents")
    state = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit(1)).otherwise(F.lit(2)).alias("status"),
    )
    done = state.filter(F.col("status") == 1).select("doc_id")
    return d.join(done, "doc_id", "left_anti").select("doc_id")


@q(
    "q11_merge_last_wins",
    """
    SELECT slug, doc_id AS kept_doc_id FROM (
      SELECT source AS slug, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY doc_id DESC) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q11_merge_last_wins(spark, sf_dir):
    """Project-JSON merge-by-slug last-wins (exporters/json.py:197-201) as a
    window dedup; 'slug' synthesized from source, recency from doc_id."""
    d = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("slug").orderBy(F.desc("doc_id"))
    return (
        d.select(F.col("source").alias("slug"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("slug", F.col("doc_id").alias("kept_doc_id"))
    )


# --- relational breadth on TPC-H-ish tables ---------------------------------

@q(
    "q12_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q12_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-side filter pushdown + partial/final hash agg.
    Decimal sums (exact, order-independent) cast to double for the compare."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q(
    "q13_top_customers",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_spent
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
    ORDER BY total_spent DESC, c_custkey
    LIMIT 100
    """,
)
def q13_top_customers(spark, sf_dir):
    """Broadcast join (customer ≪ orders) + agg + deterministic top-k."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_spent"),
        )
        .orderBy(F.desc("total_spent"), "c_custkey")
        .limit(100)
    )


@q(
    "q14_recent_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q14_recent_orders_per_customer(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@q(
    "q15_event_type_stats",
    """
    SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q15_event_type_stats(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


@q(
    "q38_token_rollup",
    _TOKENS_CTE
    + """
    SELECT coalesce(source, '(all)') AS source, coalesce(lang, '(all)') AS lang,
           count(*) AS n_tokens, count(DISTINCT word) AS n_distinct
    FROM words GROUP BY ROLLUP(source, lang)
    """,
)
def q38_token_rollup(spark, sf_dir):
    """domain×lang token rollup with subtotals (SURVEY §2.4: grouping-sets
    extension for corpus composition reports). Subtotal NULL keys coalesced
    to '(all)' so the cross-engine value-hash has no NULL ordering issues."""
    words = _tokens_df(spark, sf_dir).select(
        "source", "lang", F.explode("tokens").alias("word")
    )
    return (
        words.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("word").alias("n_distinct"),
        )
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "n_tokens",
            "n_distinct",
        )
    )


@q(
    "q33_visited_rows",
    """
    SELECT 'https://' || source || '.example.com/docs/' || doc_id AS "URL",
           1 AS "Status",
           '2026-01-01' AS "Data",
           'docs-' || doc_id || '.md' AS "MD File",
           'docs-' || doc_id || '.json' AS "JSON File"
    FROM documents
    """,
)
def q33_visited_rows(spark, sf_dir):
    """visited_urls state rows in the reference CSV shape (storage.py:65,
    crawler.py:253-260: Status=1, Data=%Y-%m-%d)."""
    from ..operators.sinks import visited_urls_rows

    return visited_urls_rows(_extracted(spark, sf_dir))


@q(
    "q40_user_sessions",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM e
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           count(*) AS n_events,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT)
             AS duration_sec
    FROM s GROUP BY user_id, session_idx
    """,
)
def q40_user_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag + running sum —
    the batch form of streaming session windows (SURVEY §2.4: window-fn
    coverage beyond the reference)."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagts = F.lag("ts").over(w)
    new_s = F.when(
        lagts.isNull()
        | ((F.col("ts") - lagts) > F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    s = e.select("user_id", "ts", "event_id").withColumn(
        "session_idx",
        F.sum(new_s).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("session_start"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("duration_sec"),
    )


# --- resumable pipeline (north_rule) — rows-only check (filesystem state
# and run wall-clock are not SQL-expressible; pytest covers exact semantics
# in tests/test_state_resume.py) ---------------------------------------------

@q(
    "q30_pipeline_run_metrics",
    """
    WITH pages AS (
      SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
             || '</title><meta name="description" content="' || source
             || ' document"></head><body>'
             || '<header>site header</header>'
             || '<nav><a href="https://nav.example.net/x">navlink</a></nav>'
             || '<h1>Heading ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
             || text || '</p>'
             || '<a href="/about/' || CAST(doc_id AS VARCHAR) || '">about</a>'
             || '<a href="https://ext' || CAST(doc_id % 5 AS VARCHAR)
             || '.example.org/page">ext</a>'
             || '<img src="/img/' || CAST(doc_id AS VARCHAR)
             || '.png" alt="img ' || CAST(doc_id AS VARCHAR) || '">'
             || '<footer>footer</footer></body></html>' AS html
      FROM documents
    )
    SELECT CAST(doc_id % 16 AS INT) AS bucket,
           count(*) AS n_docs,
           CAST(0 AS BIGINT) AS n_empty,
           CAST(sum(octet_length(encode(html))) AS BIGINT) AS bytes_in
    FROM pages GROUP BY 1
    """,
)
def q30_pipeline_run_metrics(spark, sf_dir):
    """Run the checkpointed extraction pipeline twice over synthesized pages
    (second run must be a no-op) and return per-url-hash-bucket lineage
    metrics (n_docs, n_empty, bytes_in). The bucket is a closed-form id
    bucket for this query so the oracle can state the exact per-bucket
    aggregates; production uses pmod(xxhash64(url), n_buckets). The
    per-partition wall_ms/url-range lineage table is asserted non-empty and
    stays covered by tests/test_plans.py."""
    import tempfile

    from ..plans import state as st
    from ..plans.pipeline import run_extraction

    docs = documents_as_pages(spark, sf_dir)
    bucket = F.regexp_extract("url", r"/docs/(\d+)$", 1).cast("long") % 16
    with tempfile.TemporaryDirectory() as root:
        run_extraction(spark, docs.drop("doc_id"), root, run_id="r1",
                       n_buckets=16, repartition_by_bucket=True,
                       bucket_expr=bucket)
        s2 = run_extraction(spark, docs.drop("doc_id"), root, run_id="r2",
                            n_buckets=16, repartition_by_bucket=True,
                            bucket_expr=bucket)
        assert s2["n_processed"] == 0, "resume must skip completed urls"
        assert st.read_metrics(spark, root).count() > 0, "lineage missing"
        m = (
            st.read_extracted(spark, root)
            .groupBy(F.col("bucket").cast("int").alias("bucket"))
            .agg(
                F.count("*").alias("n_docs"),
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.length("text") == 0) & (F.col("bytes_in") > 0),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).cast("long").alias("n_empty"),
                F.sum("bytes_in").cast("long").alias("bytes_in"),
            )
        )
        m = m.cache()
        m.count()  # materialize before the tempdir vanishes
        return m


@q(
    "q60_asof_join",
    """
    SELECT e.event_id, e.user_id,
           m.event_id AS last_signup_id,
           CAST(floor(epoch(e.ts)) - floor(epoch(m.ts)) AS BIGINT)
             AS secs_since_signup
    FROM events e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') m
      ON e.user_id = m.user_id AND e.ts >= m.ts
    """,
)
def q60_asof_join(spark, sf_dir):
    """As-of join (SURVEY §2.4 join-surface gap): every event gets the
    most recent signup at-or-before it per user. Implemented the scalable
    way — NOT a range join: union the two streams, one window per user
    ordered by (ts, is-mark-first), ``last(mark, ignorenulls)`` carries
    the latest mark forward. One shuffle on user_id, zero row inflation —
    the shape that survives 10^12 events. Oracle: DuckDB's native ASOF
    JOIN."""
    e = _read(spark, sf_dir, "events")
    marks = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("mark_id"),
        F.col("ts").alias("mark_ts"),
    )
    evs = e.select(
        "user_id", "ts", "event_id",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("mark_id"),
        F.lit(None).cast("timestamp").alias("mark_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = marks.unionByName(evs).select(
        "user_id", "ts", "event_id", "kind",
        F.last("mark_id", ignorenulls=True).over(w).alias("last_signup_id"),
        F.last("mark_ts", ignorenulls=True).over(w).alias("_mts"),
    )
    return tagged.filter(F.col("kind") == 1).select(
        "event_id", "user_id", "last_signup_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp("_mts")
        ).alias("secs_since_signup"),
    )


@q(
    "q61_set_ops",
    _TOKENS_CTE
    + """
    SELECT 'both' AS which, word FROM (
      SELECT DISTINCT word FROM words WHERE lang = 'en'
      INTERSECT
      SELECT DISTINCT word FROM words WHERE lang = 'de'
    )
    UNION ALL
    SELECT 'en_only', word FROM (
      SELECT DISTINCT word FROM words WHERE lang = 'en'
      EXCEPT
      SELECT DISTINCT word FROM words WHERE lang = 'de'
    )
    ORDER BY which, word
    """,
)
def q61_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT surface (SURVEY §2.4 set-op gap): vocabulary
    shared by the en and de sub-corpora, and en-exclusive vocabulary."""
    words = _tokens_df(spark, sf_dir).select(
        "lang", F.explode("tokens").alias("word")
    )
    en = words.filter(F.col("lang") == "en").select("word").distinct()
    de = words.filter(F.col("lang") == "de").select("word").distinct()
    both = en.intersect(de).select(F.lit("both").alias("which"), "word")
    only = en.subtract(de).select(F.lit("en_only").alias("which"), "word")
    return both.unionByName(only).orderBy("which", "word")


@q(
    "q62_interval_join",
    """
    WITH w AS (
      SELECT event_id AS signup_id, user_id, ts AS start_ts,
             ts + INTERVAL 2 HOUR AS end_ts
      FROM events WHERE event_type = 'signup'
    )
    SELECT w.signup_id, count(e.event_id) AS n_events_2h
    FROM w LEFT JOIN events e
      ON e.user_id = w.user_id
     AND e.ts >= w.start_ts AND e.ts < w.end_ts
    GROUP BY w.signup_id
    """,
)
def q62_interval_join(spark, sf_dir):
    """Range/interval join (SURVEY §2.4 join-surface gap): events within
    2 h of each signup, per user — via the bucketed equi-join rewrite
    (operators/joins.py), never Catalyst's nested-loop plan for theta
    joins. Windows with zero matches are impossible here (a signup falls
    in its own window), so the inner bucket join suffices for the count."""
    from ..operators.joins import bucketed_interval_join

    e = _read(spark, sf_dir, "events")
    w = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    joined = bucketed_interval_join(
        e.select("user_id", "ts", "event_id"), w, keys=["user_id"],
        bucket_secs=3600,
    )
    return joined.groupBy("signup_id").agg(
        F.count("event_id").alias("n_events_2h")
    )


@q(
    "q63_token_cube",
    _TOKENS_CTE
    + """
    SELECT coalesce(source, '(all)') AS source, coalesce(lang, '(all)') AS lang,
           count(*) AS n_tokens
    FROM words GROUP BY CUBE(source, lang)
    """,
)
def q63_token_cube(spark, sf_dir):
    """source×lang token CUBE — all four grouping sets (completes the
    §2.4 grouping-sets surface next to q38's ROLLUP). NULL subtotal keys
    coalesced so the cross-engine hash sees no NULL-ordering issues."""
    words = _tokens_df(spark, sf_dir).select(
        "source", "lang", F.explode("tokens").alias("word")
    )
    return (
        words.cube("source", "lang")
        .agg(F.count("*").alias("n_tokens"))
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "n_tokens",
        )
    )


@q(
    "q66_reconcile_lost_outputs",
    """
    SELECT 'https://' || source || '.example.com/docs/'
             || CAST(doc_id AS VARCHAR) AS url
    FROM documents WHERE doc_id % 16 = 0
    """,
)
def q66_reconcile_lost_outputs(spark, sf_dir):
    """Crash-recovery reconcile, driver-checked (reference storage.py:
    120-150 semantics; R12 was pytest-only in round 1): run the pipeline,
    DELETE one url-hash bucket's output files (simulating a lost/corrupt
    partition), reconcile — the done-but-missing urls must be re-pended,
    and the pending set must be exactly that bucket's urls."""
    import shutil
    import tempfile

    from ..plans import state as st
    from ..plans.pipeline import run_extraction

    docs = documents_as_pages(spark, sf_dir)
    bucket = F.regexp_extract("url", r"/docs/(\d+)$", 1).cast("long") % 16
    with tempfile.TemporaryDirectory() as root:
        run_extraction(spark, docs.drop("doc_id"), root, run_id="r1",
                       n_buckets=16, repartition_by_bucket=True,
                       bucket_expr=bucket)
        shutil.rmtree(f"{root}/extracted/bucket=0")
        st.reconcile(spark, root)
        pend = st.pending(docs.drop("doc_id"), spark, root).select("url")
        pend = pend.cache()
        pend.count()  # materialize before the tempdir vanishes
        return pend


@q(
    "q82_snapshot_diff",
    """
    WITH a AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 0
    ),
    b AS (
      SELECT doc_id,
             md5(text || CASE WHEN doc_id % 3 = 0 THEN ' v2' ELSE '' END)
               AS h
      FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.h IS NULL THEN 'added'
                WHEN b.h IS NULL THEN 'removed'
                WHEN a.h = b.h THEN 'unchanged'
                ELSE 'changed' END AS status,
           a.h AS old_fingerprint, b.h AS new_fingerprint
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    """,
)
def q82_snapshot_diff(spark, sf_dir):
    """Recrawl snapshot diff (plans/snapshot.py): two synthesized crawls
    (old = doc_id%7!=0; new = doc_id%5!=0, with doc_id%3==0 pages
    re-rendered) full-outer-joined on the page key comparing content
    fingerprints → added/removed/changed/unchanged. Co-partitioned
    sort-merge join under url-hash bucketing; status in codegen."""
    from ..plans.snapshot import snapshot_diff

    d = _read(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5(F.col("text")).alias("page_hash")
    )
    new = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.md5(
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 3 == 0, F.lit(" v2"))
                .otherwise(F.lit("")),
            )
        ).alias("page_hash"),
    )
    return snapshot_diff(old, new, key="doc_id", fingerprint="page_hash")


@q(
    "q131_scd2_history",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    c AS (SELECT * FROM o WHERE prev IS NULL OR event_type <> prev)
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM c
    """,
)
def q131_scd2_history(spark, sf_dir):
    """Type-2 SCD history of each user's event_type runs
    (plans/snapshot.py:scd2_history): run-length collapse + lead()
    validity intervals, every window partitioned by the key — ONE hash
    Exchange total, reused by all three window steps (the
    answers-at-time-t companion to the reference's last-wins visited
    view, storage.py:65-80). Ties on (user_id, ts) break on event_id,
    so the history is replay-deterministic."""
    from ..plans.snapshot import scd2_history

    ev = _read(spark, sf_dir, "events")
    return scd2_history(
        ev, ["user_id"], "event_type", tiebreak_col="event_id",
    )


@q(
    "q132_salted_skew_join",
    """
    WITH dim AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs,
             CAST(sum(n_chars) AS BIGINT) AS lang_chars
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.source, dim.lang_docs, dim.lang_chars
    FROM documents d JOIN dim USING (lang)
    """,
)
def q132_salted_skew_join(spark, sf_dir):
    """Hot-key-salted equi-join (operators/joins.py:salted_skew_join):
    documents joined to a per-lang dim where 'en' holds ~40% of all
    rows. Hot keys (count >= 150) are detected by a map-combined
    groupBy, big-side rows spread across 4 deterministic crc32 salt
    buckets, dim rows replicated per salt — the join result is
    PROVABLY identical to the plain join (the oracle IS the plain
    join), while no reducer owns a hot key's full row set. The
    pre-emptive complement to AQE skew splitting, for dims too big to
    broadcast at corpus scale."""
    from ..operators.joins import salted_skew_join

    d = _read(spark, sf_dir, "documents")
    dim = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("lang_docs"),
        F.sum("n_chars").cast("bigint").alias("lang_chars"),
    )
    return salted_skew_join(
        d, dim, "lang", salt_source="doc_id", n_salts=4,
        hot_threshold=150,
    ).select("doc_id", "lang", "source", "lang_docs", "lang_chars")


@q(
    "q134_compaction_plan",
    """
    WITH plan AS (
      SELECT source, doc_id, n_chars,
             CAST((sum(n_chars) OVER
                     (PARTITION BY source ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n_chars) // 2000
                  AS BIGINT) AS group_id
      FROM documents
    )
    SELECT source, group_id, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS group_bytes
    FROM plan GROUP BY source, group_id
    """,
)
def q134_compaction_plan(spark, sf_dir):
    """Small-file compaction work-list
    (plans/compaction.py:compaction_plan + compaction_summary):
    documents stand in for the per-partition file manifest (file =
    doc, bytes = n_chars, table partition = source, target = 2000).
    Streaming next-fit in manifest order — group_id = exclusive
    running sum div target, ONE window partitioned by the table
    partition (never global), zero data files read. The maintenance
    pass that keeps a per-partition-checkpointed 10^12-doc ingest from
    drowning in small files; summary rows are the compactor's output
    files."""
    from ..plans.compaction import compaction_plan, compaction_summary

    d = _read(spark, sf_dir, "documents")
    plan = compaction_plan(
        d.select("source", "doc_id", "n_chars"),
        ["source"], size_col="n_chars", file_col="doc_id",
        target_bytes=2000,
    )
    return compaction_summary(plan, ["source"], size_col="n_chars")


@q(
    "q136_funnel_stages",
    """
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.t1
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2
      GROUP BY e.user_id
    )
    SELECT t1.user_id, t1.t1, t2.t2, t3.t3,
           CAST(1 + (CASE WHEN t2.t2 IS NULL THEN 0 ELSE 1 END)
                  + (CASE WHEN t3.t3 IS NULL THEN 0 ELSE 1 END)
                AS INT) AS stage_reached
    FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
            LEFT JOIN t3 ON t1.user_id = t3.user_id
    """,
)
def q136_funnel_stages(spark, sf_dir):
    """Ordered view→click→purchase funnel per user
    (operators/funnel.py:funnel_stages): t_i = earliest step-i event
    STRICTLY AFTER t_{i-1}. Chained conditional-min aggregates joined
    back on the user key — each stage is one keyed shuffle of slim
    (user, ts) rows, no window over the raw stream, no per-user event
    arrays, so a 10^6-event power user costs min() and nothing
    more."""
    from ..operators.funnel import funnel_stages

    return funnel_stages(
        _read(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@q(
    "q137_retention_cohorts",
    """
    WITH first AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_date
      FROM events GROUP BY user_id
    )
    SELECT cohort_date,
           CAST(date_diff('day', cohort_date, CAST(ts AS DATE))
                AS INT) AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN first USING (user_id)
    GROUP BY 1, 2
    """,
)
def q137_retention_cohorts(spark, sf_dir):
    """Cohort-retention matrix (operators/funnel.py:retention_cohorts):
    users cohorted by first-event DATE, counted active at each day
    offset. User-keyed first-event aggregate → same-key join →
    (cohort, offset) partial-agg distinct count; every intermediate
    beyond the first map-side combine is user-count-sized, never
    event-count-sized."""
    from ..operators.funnel import retention_cohorts

    return retention_cohorts(_read(spark, sf_dir, "events"))


@q(
    "q142_decayed_activity",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(
             CAST(floor(value * 1000000) AS BIGINT)
             // CAST(power(2, least(greatest(
                  date_diff('day', CAST(ts AS DATE), DATE '2024-01-31'),
                  0), 62)) AS BIGINT)
           ) AS BIGINT) AS decayed_micros
    FROM events GROUP BY user_id
    """,
)
def q142_decayed_activity(spark, sf_dir):
    """Exponentially time-decayed per-user activity
    (operators/stats.py:decayed_activity): half-life 1 day anchored at
    2024-01-31. The decay divisor is a power of two applied as an
    ARITHMETIC RIGHT SHIFT — exact BIGINT per-row, so the per-key sum
    is aggregation-order independent (float exp(-λ·age) cannot
    hash-match an oracle). One map-combined groupBy, decay in
    codegen."""
    from ..operators.stats import decayed_activity

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "ts",
        F.floor(F.col("value") * 1_000_000).cast("bigint")
        .alias("value_micros"),
    )
    return decayed_activity(ev, "2024-01-31", half_life_days=1)


@q(
    "q195_zorder_layout",
    """
    WITH k AS (
      SELECT doc_id, n_chars,
             CAST(n_chars AS BIGINT) AS a,
             CAST(doc_id % 65536 AS BIGINT) AS b
      FROM documents
    ),
    z AS (
      SELECT doc_id, n_chars,
             CAST((((a >> 0) & 1) << 0)
               + (((b >> 0) & 1) << 1)
               + (((a >> 1) & 1) << 2)
               + (((b >> 1) & 1) << 3)
               + (((a >> 2) & 1) << 4)
               + (((b >> 2) & 1) << 5)
               + (((a >> 3) & 1) << 6)
               + (((b >> 3) & 1) << 7)
               + (((a >> 4) & 1) << 8)
               + (((b >> 4) & 1) << 9)
               + (((a >> 5) & 1) << 10)
               + (((b >> 5) & 1) << 11)
               + (((a >> 6) & 1) << 12)
               + (((b >> 6) & 1) << 13)
               + (((a >> 7) & 1) << 14)
               + (((b >> 7) & 1) << 15)
               + (((a >> 8) & 1) << 16)
               + (((b >> 8) & 1) << 17)
               + (((a >> 9) & 1) << 18)
               + (((b >> 9) & 1) << 19)
               + (((a >> 10) & 1) << 20)
               + (((b >> 10) & 1) << 21)
               + (((a >> 11) & 1) << 22)
               + (((b >> 11) & 1) << 23)
               + (((a >> 12) & 1) << 24)
               + (((b >> 12) & 1) << 25)
               + (((a >> 13) & 1) << 26)
               + (((b >> 13) & 1) << 27)
               + (((a >> 14) & 1) << 28)
               + (((b >> 14) & 1) << 29)
               + (((a >> 15) & 1) << 30)
               + (((b >> 15) & 1) << 31)
               AS BIGINT) AS zkey
      FROM k
    )
    SELECT doc_id, n_chars, zkey, zkey // 268435457 AS file_idx
    FROM z
    """,
)
def q195_zorder_layout(spark, sf_dir):
    """Z-order clustered layout keys (operators/layout.py: Morton 1966;
    Delta/Iceberg ZORDER BY): bit-interleave (n_chars, doc_id mod 2^16)
    so rows close in EITHER dimension stay close in the linear write
    order and min/max file stats prune scans on both predicates. The key
    is a folded 32-term shift/mask sum — whole-stage codegen on the scan
    path, zero shuffle, bit-identical in any engine; file_idx is the
    closed-form equal-width range slice a clustered writer sorts into
    (append-stable: no quantile drift between runs)."""
    from ..operators.layout import zorder_layout

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        (F.col("doc_id") % 65536).alias("_b"),
    )
    out = zorder_layout(d, "n_chars", "_b", bits=16, n_files=16)
    return out.select("doc_id", "n_chars", "zkey", "file_idx")


@q(
    "q199_bucketed_join",
    """
    WITH stats AS (
      SELECT doc_id, n_chars FROM documents
    ),
    dim AS (
      SELECT doc_id, source, lang FROM documents
    ),
    j AS (
      SELECT d.source, s.n_chars
      FROM stats s JOIN dim d ON s.doc_id = d.doc_id
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM j GROUP BY source
    """,
)
def q199_bucketed_join(spark, sf_dir):
    """Shuffle-amortized co-located join (operators/joins.py:
    bucketed_colocated_join): both sides are written hash-BUCKETED on
    the join key through the catalog, so the equi-join itself plans
    with ZERO Exchange -- the shuffle is paid once at write time and
    amortized over every later join on that key (the 100-TB recipe for
    a fact table that joins the same dimension daily; the
    plans/iceberg.py DDL declares the same bucket(64) layout for the
    real lakehouse path). tests/test_plan_shapes.py pins the
    no-Exchange join plan AND the contrast (plain parquet reads of the
    same data DO shuffle). The oracle states the join result itself --
    layout changes results never."""
    import tempfile

    from ..operators.joins import bucketed_colocated_join

    d = _read(spark, sf_dir, "documents")
    stats = d.select("doc_id", "n_chars")
    dim = d.select("doc_id", "source", "lang")
    with tempfile.TemporaryDirectory() as root:
        j = bucketed_colocated_join(
            spark, stats, dim, "doc_id", 8, root,
            names=("q199_stats", "q199_dim"),
        )
        out = j.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        rows = out.collect()  # group-sized; detach before DROP TABLE
        schema = out.schema
        spark.sql("DROP TABLE IF EXISTS q199_stats")
        spark.sql("DROP TABLE IF EXISTS q199_dim")
        return spark.createDataFrame(rows, schema)


@q(
    "q200_curation_funnel",
    """
    WITH aug AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 11 = 0 THEN 'page not found ' || text
                  WHEN doc_id % 5 = 0 THEN text || ' casino viagra jackpot'
                  ELSE text END AS t
      FROM documents
    ),
    toks AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(lower(t), ' ')) AS w FROM aug
      ) WHERE length(w) > 0
    ),
    ta AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
             CAST(sum(length(w)) AS BIGINT) AS sl,
             CAST(sum(CASE WHEN w IN ('casino','viagra','lottery',
                                      'jackpot','betting','pills',
                                      'crypto-giveaway','xxx')
                           THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM toks GROUP BY doc_id
    ),
    gated AS (
      SELECT a.doc_id, a.source, md5(a.t) AS h,
             CASE
               WHEN regexp_matches(lower(a.t),
                 '(404 not found|page not found|error 404|no longer available|page cannot be found)')
                 AND ta.nw < 30 THEN 'soft404'
               WHEN ta.nb > 0 THEN 'badwords'
               WHEN NOT (ta.nw BETWEEN 50 AND 100000
                         AND ta.sl >= 3 * ta.nw
                         AND ta.sl <= 10 * ta.nw) THEN 'gopher'
               ELSE NULL END AS gate
      FROM aug a JOIN ta ON a.doc_id = ta.doc_id
    ),
    canon AS (
      SELECT h, min(doc_id) AS keep FROM gated
      WHERE gate IS NULL GROUP BY h
    ),
    resolved AS (
      SELECT g.doc_id, g.source,
             CASE WHEN g.doc_id = c.keep THEN 'kept'
                  ELSE 'duplicate' END AS verdict
      FROM gated g JOIN canon c ON g.h = c.h
      WHERE g.gate IS NULL
      UNION ALL
      SELECT doc_id, source, gate AS verdict FROM gated
      WHERE gate IS NOT NULL
    ),
    roll AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN verdict = 'soft404' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_soft404,
             CAST(sum(CASE WHEN verdict = 'badwords' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_badwords,
             CAST(sum(CASE WHEN verdict = 'gopher' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_gopher,
             CAST(sum(CASE WHEN verdict = 'duplicate' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_duplicate,
             CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept
      FROM resolved GROUP BY source
    )
    SELECT source, n_docs, n_soft404, n_badwords, n_gopher, n_duplicate,
           n_kept, n_kept * 1000000 // n_docs AS kept_micros
    FROM roll
    """,
)
def q200_curation_funnel(spark, sf_dir):
    """The C4/FineWeb curation recipe end-to-end as ONE declarative plan
    (operators/textstats.py:curation_funnel): soft-404 -> bad-words ->
    Gopher length gates -> exact-dup keep-first, with explicit
    precedence (every doc counted at its FIRST failing gate, dedup only
    among survivors -- the order real pipelines run, because
    deduplicating junk wastes the shuffle). Per-source stage counts +
    final yield micros are the release-review funnel report. Error
    bodies and spam tokens are spliced deterministically (mod 11 / mod
    5) so every stage fires by construction. Plan: ONE token explode +
    doc-key partial agg computes all word gates at once; one
    groupBy(md5) among survivors; one group-sized rollup -- no corpus
    window, no collect."""
    from ..operators.textstats import curation_funnel

    d = _read(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit("page not found "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" casino viagra jackpot")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return curation_funnel(aug)
