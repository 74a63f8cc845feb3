"""Sampling/mixing/splits/shards: budgets, temperature, IPF, fusion.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


@q(
    "q57_decontaminate",
    """
    WITH corpus AS (
      SELECT doc_id, list_filter(string_split(text, ' '),
                                 w -> length(w) > 0) AS t
      FROM documents
    ), bench AS (SELECT * FROM corpus WHERE doc_id % 100 = 3),
    cg AS (
      SELECT DISTINCT doc_id AS corpus_id,
             array_to_string(t[i:i+12], ' ') AS g
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - 11)) AS i
            FROM corpus WHERE len(t) >= 13)
    ), bg AS (
      SELECT DISTINCT doc_id AS benchmark_id,
             array_to_string(t[i:i+12], ' ') AS g
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - 11)) AS i
            FROM bench WHERE len(t) >= 13)
    )
    SELECT corpus_id, benchmark_id, count(*) AS n_shared
    FROM cg JOIN bg USING (g)
    GROUP BY corpus_id, benchmark_id
    """,
)
def q57_decontaminate(spark, sf_dir):
    """Benchmark decontamination (the public 13-gram rule): flag corpus
    docs sharing any word 13-gram with an eval set — here the eval set is
    a slice of the corpus itself (doc_id%100=3), simulating leakage, so
    at minimum every leaked doc flags itself. Equi-join on gram hashes;
    benchmark side broadcasts; docs under 13 tokens have no grams."""
    from ..operators.dedup import decontaminate

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ",
            F.filter(
                F.split("text", " "), lambda w: F.length(w) > 0
            ),
        ).alias("tokens_str"),
    )
    bench = d.filter(F.col("doc_id") % 100 == 3)
    return decontaminate(d, bench, n=13)


@q(
    "q74_mixture_sample",
    """
    WITH rates AS (
      SELECT source,
             CAST(200000 + ('0x' || substr(md5(source), 1, 8))::BIGINT
                           % 600000 AS BIGINT) AS rate_micros
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT d.doc_id, d.source, r.rate_micros,
           CAST(1000000.0 AS DOUBLE) / r.rate_micros AS sample_weight
    FROM documents d JOIN rates r USING (source)
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 1000000 < r.rate_micros
    """,
)
def q74_mixture_sample(spark, sf_dir):
    """Deterministic training-mix sampling (operators/mixing.py):
    per-source keep-rates (themselves hash-derived here so the oracle can
    state them) select documents via md5-bucket < rate — reproducible
    membership with inverse-probability weights, no RNG state."""
    from ..operators.mixing import mixture_sample

    docs = _read(spark, sf_dir, "documents")
    rates = docs.select("source").distinct().select(
        "source",
        (
            F.lit(200000)
            + F.conv(F.substring(F.md5("source"), 1, 8), 16, 10)
            .cast("long")
            % 600000
        ).alias("rate_micros"),
    )
    return mixture_sample(docs, rates).select(
        "doc_id", "source", "rate_micros", "sample_weight"
    )


@q(
    "q104_stratified_sample",
    """
    SELECT doc_id, lang, CAST(sample_rank AS INT) AS sample_rank
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    )
    WHERE sample_rank <= 10
    """,
)
def q104_stratified_sample(spark, sf_dir):
    """Exact-k stratified sampling (operators/mixing.
    stratified_topk_sample): exactly 10 documents per language, ranked by
    md5(doc_id) — a deterministic, engine-portable pseudo-random order
    with no RNG state, so the probe/eval carve is rerun-stable and
    reproducible from the id alone. Complements q74's rate-based mixture
    sampling (target fraction vs target count). Stratum-partitioned
    window only — never a global sort."""
    from ..operators.mixing import stratified_topk_sample

    d = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_topk_sample(d, k=10).select(
        "doc_id", "lang", F.col("sample_rank").cast("int").alias(
            "sample_rank"
        )
    )


@q(
    "q110_split_assign",
    """
    SELECT doc_id, source,
           ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))
             ::BIGINT % 1000000 AS split_bucket,
           CASE
             WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)),
                                  1, 8))::BIGINT % 1000000 < 980000
               THEN 'train'
             WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)),
                                  1, 8))::BIGINT % 1000000 < 990000
               THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
)
def q110_split_assign(spark, sf_dir):
    """Deterministic train/val/test split (operators/mixing.py
    split_assign): salted md5-bucket of the stable doc key cut into
    contiguous ranges — a narrow no-shuffle projection whose membership
    survives re-sharding, re-ordering, and incremental corpus growth.
    The oracle states the same salted bucket arithmetic closed-form."""
    from ..operators.mixing import split_assign

    d = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return split_assign(d, salt="split",
                        train_micros=980_000, val_micros=10_000)


@q(
    "q128_priority_sample",
    """
    WITH w AS (
      SELECT doc_id, source,
             CAST(length(list_filter(string_split(text, ' '),
                                     t -> length(t) > 0)) AS BIGINT)
               AS weight,
             CAST(('0x' || substr(md5('prio' || doc_id), 1, 8))::BIGINT
                  % 1000000 + 1 AS BIGINT) AS u_micros
      FROM documents
    ),
    p AS (
      SELECT *, CAST((weight * 1000000000000) // u_micros AS BIGINT)
               AS priority
      FROM w
    ),
    t1 AS (SELECT * FROM p ORDER BY priority DESC, doc_id LIMIT 51),
    tau AS (SELECT CASE WHEN count(*) > 50 THEN min(priority)
                        ELSE 0 END AS tau FROM t1),
    s AS (SELECT * FROM t1 ORDER BY priority DESC, doc_id LIMIT 50)
    SELECT doc_id, source, weight, u_micros, priority,
           CAST(greatest(weight * 1000000, tau) AS BIGINT)
             AS est_weight_micros
    FROM s, tau
    """,
)
def q128_priority_sample(spark, sf_dir):
    """Weight-proportional exact-k sample with unbiased estimators
    (operators/mixing.py:priority_sample; Duffield-Lund-Thorup priority
    sampling, JACM 2007): k=50 docs weighted by token count. Priorities
    are BIGINT w·1e12 div u with deterministic md5 uniforms, winners via
    TakeOrderedAndProject (per-partition heaps, never a global sort),
    τ = the 51st priority broadcast from a 1-row aggregate. Σ
    est_weight over the sample unbiasedly estimates corpus tokens."""
    from ..operators.mixing import priority_sample

    d = _read(spark, sf_dir, "documents")
    weighted = d.select(
        "doc_id",
        "source",
        F.size(
            F.filter(F.split("text", " "), lambda t: F.length(t) > 0)
        ).cast("long").alias("weight"),
    )
    return priority_sample(weighted, "weight", k=50).select(
        "doc_id", "source", "weight", "u_micros", "priority",
        "est_weight_micros",
    )


@q(
    "q158_zipf_slope",
    _TOKENS_CTE
    + """
    , f AS (
      SELECT lang, word, CAST(count(*) AS BIGINT) AS freq
      FROM words GROUP BY lang, word
    ),
    r AS (
      SELECT lang,
             CAST(floor(1000000 * ln(CAST(row_number() OVER (
               PARTITION BY lang ORDER BY freq DESC, word)
               AS DOUBLE))) AS BIGINT) AS x,
             CAST(floor(1000000 * ln(CAST(freq AS DOUBLE)))
               AS BIGINT) AS y
      FROM f
    ),
    s AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM r GROUP BY lang
    )
    SELECT lang, n,
           CAST(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             THEN floor(1e6 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
             END AS BIGINT) AS slope_micros,
           CAST(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             THEN floor((CAST(sy AS DOUBLE)
                  - (CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                     THEN floor(1e6 * (CAST(n AS DOUBLE)
                          * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                     END) * CAST(sx AS DOUBLE) / 1e6)
                / CAST(n AS DOUBLE))
             END AS BIGINT) AS intercept_micros
    FROM s
    """,
)
def q158_zipf_slope(spark, sf_dir):
    """Zipf's-law fit per language (operators/textstats.py:zipf_slope):
    OLS slope of ln(freq) on ln(rank) over each language's frequency-
    ranked vocabulary — natural text runs ≈ −1·10^6 micros; template
    farms and generated spam flatten it. Sufficient statistics are
    exact BIGINT sums of micro-quantized logs (order-free under any
    partitioning); the rank window partitions BY LANGUAGE over the
    vocabulary-sized table (never a global sort); the final two-ratio
    arithmetic is one canonical double expression replayed verbatim by
    the oracle."""
    from ..operators.textstats import zipf_slope

    return zipf_slope(_tokens_df(spark, sf_dir))


@q(
    "q162_split_leakage",
    """
    WITH corpus AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '),
                         w -> length(w) > 0) AS t
      FROM documents
      UNION ALL
      SELECT doc_id + 100000,
             list_filter(string_split(text, ' '),
                         w -> length(w) > 0)
      FROM documents WHERE doc_id % 10 = 0
    ),
    s AS (
      SELECT doc_id, t,
             CASE WHEN ('0x' || substr(md5('split'
                    || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % 1000000 < 900000 THEN 'train'
                  WHEN ('0x' || substr(md5('split'
                    || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % 1000000 < 950000 THEN 'val'
                  ELSE 'test' END AS split
      FROM corpus
    ),
    g AS (
      SELECT DISTINCT doc_id, split,
             array_to_string(t[i:i+12], ' ') AS gr
      FROM (SELECT doc_id, split, t,
                   unnest(range(1, len(t) - 11)) AS i
            FROM s WHERE len(t) >= 13)
    ),
    tr AS (SELECT DISTINCT doc_id AS train_id, gr FROM g
           WHERE split = 'train'),
    ev AS (SELECT doc_id, split, gr FROM g WHERE split <> 'train')
    SELECT ev.doc_id, ev.split,
           CAST(count(DISTINCT ev.gr) AS BIGINT) AS n_shared_grams,
           CAST(count(DISTINCT tr.train_id) AS BIGINT) AS n_train_docs
    FROM ev JOIN tr USING (gr)
    GROUP BY 1, 2
    """,
)
def q162_split_leakage(spark, sf_dir):
    """Train→eval leakage audit over the q110 deterministic split
    (operators/dedup.py:split_leakage): every tenth document gets a
    verbatim copy under a new id, the corpus is split 90/5/5, and any
    val/test doc sharing a 13-gram with ANY train doc is flagged with
    its shared-gram and train-doc counts — the eval-hygiene step that
    makes held-out numbers trustworthy. Unlike q57's broadcast-bench
    decontamination, both sides here are corpus fractions: a plain hash
    equi-join on 8-byte gram-hash prefixes, (id, hash) pairs only."""
    from ..operators.dedup import split_leakage
    from ..operators.mixing import split_assign

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ", F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("tokens_str"),
    )
    copies = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "tokens_str"
    )
    corpus = d.unionByName(copies)
    s = split_assign(
        corpus, salt="split",
        train_micros=900_000, val_micros=50_000,
    )
    return split_leakage(s, n=13)


@q(
    "q176_temperature_rates",
    """
    WITH dt AS (
      SELECT source,
             CAST(sum(len(list_filter(string_split(lower(trim(
               regexp_replace(text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0))) AS BIGINT) AS n
      FROM documents GROUP BY source
    ),
    s AS (
      SELECT source, n,
             CAST(floor(sqrt(n * 1000000.0)) AS BIGINT) AS sq
      FROM dt
    ),
    t AS (SELECT CAST(sum(sq) AS BIGINT) AS tot FROM s)
    SELECT source, n AS n_tokens, sq AS sqrt_scale,
           (sq * 1000000) // tot AS rate_micros
    FROM s, t ORDER BY source
    """,
)
def q176_temperature_rates(spark, sf_dir):
    """Temperature-scaled mixture rates at α = 1/2 (operators/
    mixing.py:sqrt_temperature_rates; the mBERT/XLM-R exponent-smooth
    rebalance): sampling share ∝ √(source token count), so head
    sources stop drowning the tail. The ONLY float op is one
    correctly-rounded IEEE sqrt per GROUP (floor(sqrt(n·1e6)) with the
    argument < 2^53) — everything after is BIGINT, which is what lets
    the oracle hash-match a "temperature" computation at all. Input is
    the group-sized token table; total is a broadcast 1-row scalar."""
    from ..operators.mixing import sqrt_temperature_rates

    d = _read(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.regexp_replace(F.col("text"),
                                            "[^A-Za-zÀ-ÿ]+", " "))),
            " ", -1,
        ),
        lambda w: F.length(w) > 0,
    )
    dt = d.groupBy("source").agg(
        F.sum(F.size(toks)).cast("long").alias("n_tokens")
    )
    return sqrt_temperature_rates(dt).orderBy(
        "source"
    )


@q(
    "q187_frequency_subsample",
    """
    WITH toks AS (
      SELECT doc_id, i - 1 AS pos, l[i] AS w
      FROM (
        SELECT doc_id,
               list_filter(string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
                 x -> length(x) > 0) AS l,
               unnest(range(1, len(list_filter(string_split(lower(trim(
                 regexp_replace(text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))),
                 ' '), x -> length(x) > 0)) + 1)) AS i
        FROM documents
      )
    ),
    cf AS (SELECT w, CAST(count(*) AS BIGINT) AS cf
           FROM toks GROUP BY w),
    tot AS (SELECT CAST(sum(cf) AS BIGINT) AS t FROM cf),
    th AS (
      SELECT w, cf,
             least(CAST(1000000 AS BIGINT),
                   CAST(floor(sqrt(CAST((1000 * t * 1000000) // cf
                                        AS DOUBLE))) AS BIGINT))
               AS threshold_micros
      FROM cf, tot
    ),
    m AS (
      SELECT th.w, th.cf, th.threshold_micros,
             CASE WHEN ('0x' || substr(md5(
                    CAST(toks.doc_id AS VARCHAR) || ':' ||
                    CAST(toks.pos AS VARCHAR) || ':' || toks.w),
                    1, 8))::BIGINT % 1000000 < th.threshold_micros
                  THEN 1 ELSE 0 END AS keep
      FROM toks JOIN th ON toks.w = th.w
    )
    SELECT w AS word, cf, threshold_micros,
           CAST(sum(keep) AS BIGINT) AS n_kept
    FROM m GROUP BY w, cf, threshold_micros
    """,
)
def q187_frequency_subsample(spark, sf_dir):
    """word2vec-style frequent-word subsampling (operators/mixing.py:
    frequency_subsample; Mikolov 2013): keep probability √(t/f) per
    occurrence — "the"-class tokens downsampled hard, rare words
    untouched — with BOTH the threshold (one IEEE sqrt of an exact
    BIGINT, the q176 discipline) and every per-occurrence coin
    (md5(doc:pos:word) bucket) fully deterministic, so the sampled
    corpus is rerun- and partition-stable and the ORACLE replays every
    single keep decision. One vocab agg + broadcast total + one more
    token-stream pass against the Heaps-sized vocab dim."""
    from ..operators.mixing import frequency_subsample

    d = _read(spark, sf_dir, "documents")
    return frequency_subsample(d, t_micros=1000)


@q(
    "q193_shard_assign",
    """
    WITH s AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 16 AS shard,
             n_chars
      FROM documents
    ),
    per AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_weight
      FROM s GROUP BY shard
    ),
    tot AS (SELECT sum(n_docs) AS nd, sum(sum_weight) AS sw FROM per)
    SELECT shard, n_docs, sum_weight,
           n_docs * 1000000 // nd AS docs_share_micros,
           sum_weight * 1000000 // sw AS weight_share_micros
    FROM per, tot
    """,
)
def q193_shard_assign(spark, sf_dir):
    """Deterministic hash-shard layout report (operators/mixing.py:
    shard_assign): md5(key) mod N is the writer's shard function —
    rerun-stable, append-stable across incremental runs — and the report
    surfaces per-shard doc/byte shares in integer micros so a hot shard
    (skewed key) is visible BEFORE a write job hits the straggler. One
    partial-agg groupBy on N groups + a broadcast 1-row total; no
    window, no sort, corpus-size independent."""
    from ..operators.mixing import shard_assign

    d = _read(spark, sf_dir, "documents")
    return shard_assign(d, n_shards=16, weight_col="n_chars")


@q(
    "q202_semantic_decontam",
    """
    WITH train AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
    bench AS (
      SELECT vec_id + 10000 AS vec_id,
             list_transform(v, x -> x * 1.001) AS v
      FROM train WHERE vec_id < 50
    ),
    bt AS (
      SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
           + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
           + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END)
           + (CASE WHEN v[7] > 0 THEN 64 ELSE 0 END)
           + (CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket
      FROM train
    ),
    bb AS (
      SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
           + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
           + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END)
           + (CASE WHEN v[7] > 0 THEN 64 ELSE 0 END)
           + (CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket
      FROM bench
    ),
    hits AS (
      SELECT t.vec_id AS train_id, b.vec_id AS bench_id,
             round(list_cosine_similarity(t.v, b.v), 4) AS sim
      FROM bt t JOIN bb b USING (bucket)
    ),
    f AS (SELECT * FROM hits WHERE sim >= 0.99),
    best AS (
      SELECT train_id, bench_id, sim,
             row_number() OVER (PARTITION BY train_id
                                ORDER BY sim DESC, bench_id DESC) AS rn
      FROM f
    )
    SELECT train_id, bench_id, sim FROM best WHERE rn = 1
    """,
)
def q202_semantic_decontam(spark, sf_dir):
    """Embedding-space benchmark decontamination (operators/similarity.py:
    semantic_decontaminate): the semantic complement of q57's 13-gram
    decontamination -- paraphrased or reformatted eval leakage has zero
    13-gram overlap but cosine ~ 1, so release pipelines run BOTH gates.
    Benchmark vectors are synthesized as scaled copies of 50 training
    vectors (same sign pattern -> same LSH bucket -> all found by
    construction). Plan: bipartite sign-LSH bucket equi-join (never
    train x bench), exact cosine on candidates only, best match per
    contaminated doc via max(struct) -- no window over the corpus."""
    from ..operators.similarity import semantic_decontaminate

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"),
    )
    bench = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    return semantic_decontaminate(emb, bench, threshold=0.99, bits=8)


@q("q215_ipf_mixture_raking", _ipf_oracle(iters=2))
def q215_ipf_mixture_raking(spark, sf_dir):
    """Iterative proportional fitting / raking (operators/mixing.py:
    ipf_raking; Deming & Stephan 1940) -- per-cell sampling weights
    that pull the (source x lang) contingency toward uniform source
    AND uniform lang marginals simultaneously, the corpus-rebalance
    primitive behind 'match these per-source and per-language token
    shares'. ONE corpus pass builds the cell counts; both IPF
    iterations run on the group-sized cell table (free at any corpus
    size). Counts are normalized to share micros and the update
    divides mass down before multiplying, so the integer arithmetic
    cannot overflow and the oracle unrolls it exactly."""
    from ..operators.mixing import ipf_raking

    d = _read(spark, sf_dir, "documents")
    counts = d.groupBy(
        F.col("source").alias("row_key"), F.col("lang").alias("col_key")
    ).agg(F.count("*").alias("n"))
    rows = counts.select("row_key").distinct()
    rt = rows.crossJoin(
        F.broadcast(rows.agg(F.count("*").alias("_c")))
    ).select("row_key", F.expr("1000000L div _c").alias("target_micros"))
    cols = counts.select("col_key").distinct()
    ct = cols.crossJoin(
        F.broadcast(cols.agg(F.count("*").alias("_c")))
    ).select("col_key", F.expr("1000000L div _c").alias("target_micros"))
    return ipf_raking(counts, rt, ct, iters=2)


@q(
    "q228_shard_mix_kl",
    """
    WITH pair AS (
      SELECT doc_id % 8 AS shard, source AS cls,
             CAST(count(*) AS BIGINT) AS n_sc
      FROM documents GROUP BY doc_id % 8, source
    ),
    st AS (SELECT shard, sum(n_sc) AS n_s FROM pair GROUP BY shard),
    ct AS (SELECT cls, sum(n_sc) AS n_c FROM pair GROUP BY cls),
    nn AS (SELECT sum(n_sc) AS n FROM pair),
    kl AS (
      SELECT p.shard, max(s.n_s) AS n_docs,
             CAST(floor(1e6 * sum(
               (CAST(p.n_sc AS DOUBLE) / s.n_s)
               * ln(CAST(p.n_sc AS DOUBLE) * nn.n
                    / (CAST(s.n_s AS DOUBLE) * c.n_c))
             )) AS BIGINT) AS kl_micros
      FROM pair p JOIN st s USING (shard) JOIN ct c USING (cls)
           CROSS JOIN nn
      GROUP BY p.shard
    ),
    dom AS (
      SELECT shard, cls AS max_class,
             n_sc * 1000000 // n_s AS max_class_frac_micros
      FROM (
        SELECT p.shard, p.cls, p.n_sc, s.n_s, row_number() OVER (
          PARTITION BY p.shard ORDER BY p.n_sc DESC, p.cls
        ) AS r
        FROM pair p JOIN st s USING (shard)
      ) WHERE r = 1
    )
    SELECT k.shard, k.n_docs, k.kl_micros, d.max_class,
           CAST(d.max_class_frac_micros AS BIGINT)
             AS max_class_frac_micros
    FROM kl k JOIN dom d USING (shard)
    """,
)
def q228_shard_mix_kl(spark, sf_dir):
    """Per-shard composition audit (operators/mixing.py shard_mix_kl):
    KL divergence of each training shard's source mix from the global
    mix + the dominant class -- the shuffle-quality gate RefinedWeb/
    FineWeb shard specs pin to ~0 (sequentially-streamed shards with
    large KLs = non-stationary training data). Counts ride ONE raw-row
    shuffle (pair groupBy; marginals re-aggregate from pair counts,
    dims broadcast); ln floored to micros per q146's proven
    cross-engine discipline. Shards here: doc_id % 8."""
    from ..operators.mixing import shard_mix_kl

    d = _read(spark, sf_dir, "documents").withColumn(
        "shard", F.col("doc_id") % 8
    )
    return shard_mix_kl(d, "shard", "source")


# --- wave: contiguous global ids / greedy k-center coreset (q231-q232) -------


@q(
    "q231_contiguous_ids",
    """
    SELECT doc_id, text, lang, source, n_chars,
           CAST(row_number() OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR)),
                      CAST(doc_id AS VARCHAR)
           ) - 1 AS BIGINT) AS gid
    FROM documents
    """,
)
def q231_contiguous_ids(spark, sf_dir):
    """Dense contiguous 0..N-1 id assignment WITHOUT a global sort
    (operators/layout.py contiguous_ids): the scale-correct
    replacement for monotonically_increasing_id (not contiguous,
    layout-dependent) and a global row_number window (single-partition
    WindowExec -- this repo's banned scale-killer). Bucket = md5 hex
    nibble; within-bucket ranks from a bucket-PARTITIONED window;
    bucket offsets = a window-free prefix sum over the 16-row count
    table, broadcast back. Result provably equals row_number over
    (md5, key) -- which is exactly what the oracle states -- but the
    biggest sort anywhere is 1/16 of the corpus (3 nibbles = 1/4096 at
    10^12 rows)."""
    from ..operators.layout import contiguous_ids

    d = _read(spark, sf_dir, "documents")
    out = contiguous_ids(d, "doc_id", buckets=16)
    return out.select("doc_id", "text", "lang", "source", "n_chars",
                      "gid")


@q(
    "q232_kcenter_coreset",
    """
    WITH ex AS (
      SELECT vec_id, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
    ),
    d1 AS (
      SELECT a.vec_id,
             CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d
      FROM ex a JOIN ex b ON a.dim = b.dim AND b.vec_id = 0
      GROUP BY a.vec_id
    ),
    s1 AS (SELECT vec_id, d FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
    d2 AS (
      SELECT a.vec_id,
             CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d
      FROM ex a JOIN ex b
        ON a.dim = b.dim AND b.vec_id = (SELECT vec_id FROM s1)
      GROUP BY a.vec_id
    ),
    m2 AS (SELECT d1.vec_id, least(d1.d, d2.d) AS d
           FROM d1 JOIN d2 USING (vec_id)),
    s2 AS (SELECT vec_id, d FROM m2 ORDER BY d DESC, vec_id LIMIT 1),
    d3 AS (
      SELECT a.vec_id,
             CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d
      FROM ex a JOIN ex b
        ON a.dim = b.dim AND b.vec_id = (SELECT vec_id FROM s2)
      GROUP BY a.vec_id
    ),
    m3 AS (SELECT m2.vec_id, least(m2.d, d3.d) AS d
           FROM m2 JOIN d3 USING (vec_id)),
    s3 AS (SELECT vec_id, d FROM m3 ORDER BY d DESC, vec_id LIMIT 1)
    SELECT CAST(0 AS INTEGER) AS sel_round,
           CAST(0 AS BIGINT) AS center_id,
           CAST(NULL AS BIGINT) AS radius_sq_micros2
    UNION ALL
    SELECT CAST(1 AS INTEGER), vec_id, d FROM s1
    UNION ALL
    SELECT CAST(2 AS INTEGER), vec_id, d FROM s2
    UNION ALL
    SELECT CAST(3 AS INTEGER), vec_id, d FROM s3
    """,
)
def q232_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset selection (operators/kmeans.py
    kcenter_greedy -- Gonzalez 1985 farthest-point traversal, the
    2-approximation): k=4 centers from vec_id 0, each round adding the
    point FARTHEST from the chosen set. The COVERAGE-guaranteeing
    diversity-sampling primitive (Sener & Savarese 2018) next to
    k-means' density clustering (q112). Integer-micros quantization +
    exact BIGINT squared L2; per round ONE partial-agg
    max(struct(min_dist2, -id)) -- no window, no sort; k bounded
    driver actions (the q50 loop discipline). radius_sq_micros2 is
    the coverage radius-squared at selection time."""
    from ..operators.kmeans import kcenter_greedy

    return kcenter_greedy(
        _read(spark, sf_dir, "embeddings"), k=4, start_id=0
    )


@q(
    "q235_borda_fusion",
    """
    WITH sig AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> length(w) > 0)) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    rk AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                  AS BIGINT) AS rank_n_chars,
             CAST(row_number() OVER (ORDER BY n_tokens, doc_id)
                  AS BIGINT) AS rank_n_tokens
      FROM sig
    )
    SELECT doc_id, rank_n_chars, rank_n_tokens,
           rank_n_chars + rank_n_tokens AS borda
    FROM rk
    """,
)
def q235_borda_fusion(spark, sf_dir):
    """Borda-count rank fusion of quality signals (operators/layout.py
    borda_fusion over global_rank): signals on incomparable scales
    (chars, tokens, perplexity...) ensemble by summing their GLOBAL
    ranks -- calibration-free and outlier-immune. The oracle states
    two global row_number windows; the operator produces the identical
    ranks via contiguous_ids' bucketed two-stage trick generalized to
    range buckets (score div width) -- the biggest sort anywhere is
    one bucket, never the corpus (the single-partition WindowExec this
    repo bans)."""
    from ..operators.layout import borda_fusion

    toks = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    return borda_fusion(
        d, ["n_chars", "n_tokens"], "doc_id", [64, 16]
    )


# --- wave: token-budget shard manifest / ranking metrics / table profile
#           (q241-q243) -------------------------------------------------------


@q(
    "q241_shard_manifest",
    """
    WITH t AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> length(w) > 0)) AS BIGINT)
               AS tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, h, tok,
             CAST(coalesce(sum(tok) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum
      FROM t
    ),
    s AS (SELECT doc_id, h, tok, cum // 2000 AS shard_id FROM c)
    SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           arg_min(doc_id, h) AS first_id,
           arg_max(doc_id, h) AS last_id
    FROM s GROUP BY shard_id
    """,
)
def q241_shard_manifest(spark, sf_dir):
    """Token-budget training-shard manifest (operators/layout.py
    token_shard_manifest over global_cumsum): docs stream in md5
    order, each shard fills a 2000-token budget, shard_id = exclusive
    token cumsum div budget. The oracle states the global running sum
    the operator NEVER runs: global_cumsum extends q231/q235's
    bucketed two-stage trick from ranks to SUMS (per-bucket totals
    prefix-summed window-free + a bucket-partitioned running-sum
    window), so the biggest running sum anywhere is one md5-nibble
    bucket. Manifest = one partial-agg groupBy(shard_id)."""
    from ..operators.layout import token_shard_manifest

    toks = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", F.size(toks).cast("bigint").alias("n_tokens")
    )
    return token_shard_manifest(d, "n_tokens", "doc_id", budget=2000)


# --- wave: RRF fusion / filter length-bias PSI (q246-q247) -------------------


@q(
    "q246_rrf_fusion",
    """
    WITH sig AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> length(w) > 0)) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    rk AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                  AS BIGINT) AS rank_n_chars,
             CAST(row_number() OVER (ORDER BY n_tokens, doc_id)
                  AS BIGINT) AS rank_n_tokens,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM sig
    )
    SELECT doc_id, rank_n_chars, rank_n_tokens,
           1000000 // (60 + n - rank_n_chars + 1)
             + 1000000 // (60 + n - rank_n_tokens + 1) AS rrf_micros
    FROM rk
    """,
)
def q246_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of quality signals (operators/layout.py
    rrf_fusion -- Cormack 2009, k=60): q235's Borda weights ranks
    uniformly; RRF weights the TOP, so a signal's confident head
    survives two mediocre mid-ranks. Ranks via global_rank (bucketed
    two-stage, no global window -- the oracle states the windows the
    operator avoids); each reciprocal term floors to micros
    independently so the sum is exact-integer and order-free."""
    from ..operators.layout import rrf_fusion

    toks = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    return rrf_fusion(
        d, ["n_chars", "n_tokens"], "doc_id", [64, 16], k_rrf=60
    )


# --- wave: video frame-sample anchors (q263) ----------------------------------


@q(
    "q263_frame_sample",
    """
    WITH p AS (SELECT doc_id, 5 + doc_id % 3 AS nc FROM documents),
    j AS (SELECT doc_id, nc, unnest(range(0, nc, 2)) AS cj FROM p)
    SELECT doc_id AS media_id,
           CAST(cj // 2 AS INT) AS frame_idx,
           CAST(1000 * doc_id + 16 * cj AS BIGINT) AS chunk_offset
    FROM j
    """,
)
def q263_frame_sample(spark, sf_dir):
    """Video frame-sample anchors (operators/multimodal.py
    frame_sample_anchors over mediax.frame_sample_mp4): REAL MP4
    sample-table parsing — ftyp/moov/trak walked, stco (even ids) and
    co64 (odd ids — the 64-bit box >4 GB web video carries) both
    exercised — emitting every 2nd chunk's byte offset, the positions
    a production sampler range-reads before the (stubbed) ffmpeg
    decode seam. Fixture: each doc becomes an MP4 with 5 + id%3
    chunks at offsets 1000*id + 16*j, so the sampled anchors are pure
    arithmetic the oracle states closed-form. Plan: Scan →
    ArrowEvalPython → posexplode → Project, zero shuffle — payload
    bytes never leave the Arrow batch."""
    from ..operators.multimodal import frame_sample_anchors, make_mp4_udf

    d = _read(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        make_mp4_udf(
            F.lit(2000) + F.col("doc_id") % 5,
            (F.lit(5) + F.col("doc_id") % 3).cast("int"),
            (F.col("doc_id") * 1000).cast("bigint"),
            (F.col("doc_id") % 2 == 1),
        ).alias("payload"),
    )
    return frame_sample_anchors(media, every_n=2)


@q(
    "q351_budget_apportionment",
    """
    SELECT * FROM (VALUES
      ('h0', CAST(1 AS BIGINT), CAST(1 AS BIGINT), 1, CAST(2 AS BIGINT)),
      ('h1', 2, 3, 1, 4),
      ('h2', 3, 5, 0, 5),
      ('h3', 4, 7, 0, 7),
      ('h4', 5, 9, 0, 9),
      ('h5', 6, 10, 1, 11),
      ('h6', 7, 12, 1, 13),
      ('h7', 8, 14, 1, 15),
      ('h8', 9, 16, 0, 16),
      ('h9', 10, 18, 0, 18)
    ) AS t(host, weight, quota_floor, extra, budget)
    """,
)
def q351_budget_apportionment(spark, sf_dir):
    """Integer crawl-budget apportionment by the largest-remainder
    (Hamilton) method (plans/frontier.py apportion_budget): 100
    fetch slots split across 10 hosts proportionally to weight
    (e.g. summed q328 change rates), floors + the 5 leftover slots
    to the largest fractional remainders — allocations sum EXACTLY
    to the budget, which naive rounding cannot guarantee. Ranking is
    distributed order statistics (256 remainder range buckets,
    bucket-partitioned row_number, broadcast prefix-sum offsets) —
    no global sort of the host dim. Every quota/remainder/award is
    exact integer arithmetic; the oracle states the full table."""
    from ..plans.frontier import apportion_budget

    d = _read(spark, sf_dir, "documents")
    g = F.col("doc_id") % 10
    weights = d.select(
        F.concat(F.lit("h"), g.cast("string")).alias("host"),
        (g + 1).cast("long").alias("weight"),
    ).distinct()
    return apportion_budget(weights, total_budget=100)


# --- wave: rendezvous hashing + dup-pair explanation (q352-q353) --------------


@q(
    "q352_rendezvous_resize",
    """
    WITH k AS (SELECT 'k' || CAST(doc_id AS VARCHAR) AS key
               FROM documents),
    b AS (SELECT key, arg_max(s, md5(key || '|' || s)) AS shard_before
          FROM k, unnest(['s0', 's1', 's2', 's3']) AS t(s)
          GROUP BY key),
    a AS (SELECT key, arg_max(s, md5(key || '|' || s)) AS shard_after
          FROM k, unnest(['s0', 's1', 's2', 's3', 's4']) AS t(s)
          GROUP BY key)
    SELECT b.key, shard_before, shard_after,
           CASE WHEN shard_before != shard_after THEN 1 ELSE 0 END
             AS moved
    FROM b JOIN a USING (key)
    """,
)
def q352_rendezvous_resize(spark, sf_dir):
    """Rendezvous/HRW hashing under a shard-count resize (operators/
    mixing.py rendezvous_assign; Thaler & Ravishankar 1996): md5
    argmax per (key, shard), replayed EXACTLY by the oracle's
    arg_max — the consistent-hashing scheme with cross-engine
    portability (ring/jump hashing need float/LCG loops no SQL
    replays). The resize invariant the fixture exercises 4→5 shards:
    a key moves ONLY to the new shard (expected 1/5 of keys), so
    sharded state (q106 dedup indexes, frontier stores) rebalances
    incrementally instead of mod-N's near-total reshuffle. Per-row
    codegen array_max; no explode, no shuffle."""
    from ..operators.mixing import rendezvous_assign

    d = _read(spark, sf_dir, "documents")
    keys = d.select(
        F.concat(F.lit("k"), F.col("doc_id").cast("string")).alias("key")
    )
    before = rendezvous_assign(keys, "key", ["s0", "s1", "s2", "s3"],
                               out_col="shard_before")
    both = rendezvous_assign(before, "key",
                             ["s0", "s1", "s2", "s3", "s4"],
                             out_col="shard_after")
    return both.select(
        "key", "shard_before", "shard_after",
        F.when(F.col("shard_before") != F.col("shard_after"), 1)
        .otherwise(0).cast("int").alias("moved"),
    )


# --- wave: domain cap + image-text pairs (q355-q356) --------------------------


@q(
    "q355_domain_cap",
    """
    WITH h AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 < 8 THEN 'big.example.com'
               ELSE 'small' || CAST(doc_id % 10 AS VARCHAR)
                 || '.example.org' END AS registrable
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, registrable,
             row_number() OVER (PARTITION BY registrable
                                ORDER BY md5(CAST(doc_id AS VARCHAR)))
               AS rk
      FROM h
    ),
    kept AS (SELECT registrable, count(*) AS n_kept
             FROM ranked WHERE rk <= 25 GROUP BY registrable)
    SELECT h.registrable,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(k.n_kept) AS BIGINT) AS n_kept,
           CAST(count(*) - min(k.n_kept) AS BIGINT) AS n_capped
    FROM h JOIN kept k ON k.registrable = h.registrable
    GROUP BY h.registrable
    """,
)
def q355_domain_cap(spark, sf_dir):
    """Per-REGISTRABLE document cap — the FineWeb/C4 'limit docs per
    domain' recipe step: one mega-site must not dominate the corpus,
    so each registrable domain (q306's grouping key) keeps at most K
    documents by deterministic md5 rank (q104's exact-k machinery —
    a domain-PARTITIONED window, never global). Fixture: one
    big domain holding 80% of docs (capped hard at 25) beside small
    domains under the cap (kept whole); the rollup states kept vs
    capped per domain and the oracle replays the identical md5
    ranking. The capped share is the datasheet number this emits."""
    from ..operators.mixing import stratified_topk_sample

    d = _read(spark, sf_dir, "documents")
    reg = F.when(
        F.col("doc_id") % 10 < 8, F.lit("big.example.com")
    ).otherwise(
        F.concat(F.lit("small"), (F.col("doc_id") % 10).cast("string"),
                 F.lit(".example.org"))
    )
    docs = d.select("doc_id", reg.alias("registrable"))
    kept = stratified_topk_sample(
        docs, stratum_col="registrable", k=25
    )
    n_kept = kept.groupBy("registrable").agg(
        F.count("*").cast("bigint").alias("n_kept")
    )
    return (
        docs.groupBy("registrable")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .join(n_kept, "registrable")
        .select(
            "registrable", "n_docs", "n_kept",
            (F.col("n_docs") - F.col("n_kept")).cast("bigint")
            .alias("n_capped"),
        )
    )
