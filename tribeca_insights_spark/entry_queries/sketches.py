"""Mergeable sketches: HLL, CMS, KMV bottom-k, histograms, Bloom, MG.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


@q(
    "q43_bigram_tf",
    """
    WITH base AS (
      SELECT doc_id,
        list_filter(
          string_split(lower(trim(regexp_replace(text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
          w -> length(w) >= 2
               AND NOT (lang = 'en' AND w IN ('the','a','and','of','is','this'))
               AND NOT (lang = 'es' AND w IN ('y','de','la','que'))
               AND NOT (lang IN ('pt','pt-br') AND w IN ('e','de','que','o'))
        ) AS toks
      FROM documents
    )
    SELECT toks[i] || ' ' || toks[i + 1] AS bigram, count(*) AS freq
    FROM (
      SELECT toks, unnest(range(1, greatest(len(toks), 1))) AS i FROM base
    )
    GROUP BY bigram ORDER BY freq DESC, bigram
    """,
)
def q43_bigram_tf(spark, sf_dir):
    """Corpus bigram counts — per-row zip_with(tokens, tail) so n-gram
    construction never shuffles; only the final count aggregates."""
    t = _tokens_df(spark, sf_dir).withColumn("url", F.col("doc_id"))
    return tfops.bigram_tf(t)


@q(
    "q109_bloom_decontaminate",
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
def q109_bloom_decontaminate(spark, sf_dir):
    """q57's 13-gram decontamination with a Bloom pre-filter on the
    corpus side (operators/bloom.py): the benchmark's gram set becomes
    a broadcast BITMAP and non-candidate corpus grams are dropped
    map-side BEFORE the corpus distinct() shuffle — the 100-TB shape
    when the index is too large to broadcast as rows. The exact verify
    join removes Bloom false positives, so the oracle is q57's exact
    closed form, unchanged — same rows, same hashes."""
    from ..operators.bloom import bloom_decontaminate

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
    return bloom_decontaminate(d, bench, n=13)


@q(
    "q123_hll_registers",
    "WITH" + _hll_register_cte(p=6) + """
    SELECT register, max_rho FROM sk
    """,
)
def q123_hll_registers(spark, sf_dir):
    """HyperLogLog register table (operators/sketches.py): the exact
    integer sketch of the corpus' distinct-token cardinality — 2^6
    registers, md5-derived 64-bit hash, leading-zero rho via static
    power-of-two comparisons (no float log anywhere). One map-combined
    m-row groupBy above a narrow hash projection; sketches union across
    shards by element-wise max (hll_merge). The oracle replays the hash
    split, register extraction, and rho bit-math identically."""
    from ..operators.sketches import hll_registers

    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("key")
    )
    return hll_registers(toks, "key", p=6)


@q("q124_hll_estimate", _hll_estimate_oracle(p=6))
def q124_hll_estimate(spark, sf_dir):
    """Raw HLL cardinality estimate from q123's sketch: the harmonic
    sum stays an EXACT BIGINT in units of 2^-61 (empty registers enter
    only at the final division), so the single float division is the
    only IEEE op — micro-quantized and engine-identical. At 10^12 docs
    this one row replaces a corpus-sized distinct() shuffle."""
    from ..operators.sketches import hll_estimate, hll_registers

    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("key")
    )
    return hll_estimate(hll_registers(toks, "key", p=6), p=6)


@q(
    "q125_cms_build",
    "WITH" + _CMS_CTES + """
    SELECT row, col, cnt FROM cms
    """,
)
def q125_cms_build(spark, sf_dir):
    """Count-min sketch build (operators/sketches.py:cms_build): 4×64
    counters summarize the corpus token-frequency distribution — the
    heavy-hitter companion to q123's HLL. The d per-row cells ride one
    posexplode (no extra corpus shuffle); output is ONE map-combined
    groupBy of ≤ d·w rows; shards merge by cell-wise sum."""
    from ..operators.sketches import cms_build

    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("key")
    )
    return cms_build(toks, "key", depth=4, width=64)


@q(
    "q126_cms_point_estimates",
    "WITH" + _CMS_CTES + """,
    p AS (SELECT DISTINCT key FROM k),
    w AS (
      SELECT key, CAST(r.row AS BIGINT) AS row,
             ('0x' || substr(md5(r.row || ':' || key), 1, 8))::BIGINT
               % 64 AS col
      FROM p, (VALUES (0), (1), (2), (3)) AS r(row)
    ),
    hit AS (
      SELECT key, coalesce(cnt, CAST(0 AS BIGINT)) AS c
      FROM w LEFT JOIN cms USING (row, col)
    )
    SELECT key, CAST(min(c) AS BIGINT) AS est_count
    FROM hit GROUP BY key
    """,
)
def q126_cms_point_estimates(spark, sf_dir):
    """Count-min point queries over the whole vocabulary
    (operators/sketches.py:cms_point_estimates): min over each row's
    counter at the key's column — never an underestimate, collisions
    bound the overestimate. The probe set is a dim against the
    d·w-row sketch; nothing corpus-sized moves."""
    from ..operators.sketches import cms_build, cms_point_estimates

    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("key")
    )
    cms = cms_build(toks, "key", depth=4, width=64)
    probes = toks.distinct()
    return cms_point_estimates(cms, probes, depth=4, width=64)


@q(
    "q144_gram_novelty",
    """
    WITH g AS (
      SELECT DISTINCT doc_id,
             md5(list_aggregate(list_slice(t, i, i + 12), 'string_agg',
                                ' ')) AS gkey
      FROM (
        SELECT doc_id,
               list_filter(str_split(text, ' '),
                           w -> length(w) > 0) AS t
        FROM documents
      ), unnest(range(1, len(t) - 11)) AS r(i)
      WHERE len(t) >= 13
    ),
    d AS (SELECT gkey, count(*) AS df FROM g GROUP BY gkey),
    p AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
      FROM g JOIN d USING (gkey) GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_shared,
           CAST((n_grams - n_shared) * 1000000 // n_grams AS BIGINT)
             AS novelty_micros
    FROM p
    """,
)
def q144_gram_novelty(spark, sf_dir):
    """Per-document 13-gram novelty score
    (operators/dedup.py:gram_novelty; Lee et al. 2022 memorization-risk
    triage): fraction of a doc's distinct word 13-grams unseen in any
    other document. Distinct (id, gram-md5) explode → gram-df table →
    one partial-agg rollup; the KEEP/WEIGHT companion to q57's
    decontamination and q97's span removal."""
    from ..operators.dedup import gram_novelty

    return gram_novelty(_read(spark, sf_dir, "documents"), n=13)


@q(
    "q150_gram_accumulation",
    """
    WITH g AS (
      SELECT DISTINCT doc_id % 20 AS bucket,
             md5(array_to_string(list_slice(t, i, i + 12), ' '))
               AS gkey
      FROM (
        SELECT doc_id,
               list_filter(str_split(text, ' '),
                           w -> length(w) > 0) AS t
        FROM documents
      ), unnest(range(1, len(t) - 11)) AS r(i)
      WHERE len(t) >= 13
    ),
    f AS (SELECT gkey, min(bucket) AS bucket FROM g GROUP BY gkey),
    p AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_grams
      FROM f GROUP BY bucket
    )
    SELECT CAST(bucket AS INT) AS bucket, n_new_grams,
           CAST(sum(n_new_grams) OVER (ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_new_grams
    FROM p
    """,
)
def q150_gram_accumulation(spark, sf_dir):
    """Novel-text accumulation curve
    (operators/dedup.py:gram_accumulation_curve): 13-gram first-
    introduction counts over 20 doc-id buckets + cumulative total —
    the is-this-source-exhausted diagnostic for data scaling. Gram-df
    shaped aggs; the cumulative sum uses the q143 array-prefix-sum
    idiom (no WindowExec even over 20 rows); the ORACLE's window form
    hash-matching proves the array form."""
    from ..operators.dedup import gram_accumulation_curve

    return gram_accumulation_curve(
        _read(spark, sf_dir, "documents"), n=13, n_buckets=20
    )


@q("q166_hll_shard_merge", _hll_shard_oracle(p=6))
def q166_hll_shard_merge(spark, sf_dir):
    """Cross-shard HLL mergeability, end-to-end: the corpus is split
    into two shards (doc_id parity), each shard builds its own sketch
    (operators/sketches.py:hll_registers), and hll_merge unions them by
    element-wise register max — the exact algebra that makes HLL the
    production cardinality answer (union across 10^5 parquet shards or
    across RUNS = one m-row max-groupBy, never a re-scan of old data;
    composes with plans/state.py's cross-run log the way q106's
    incremental dedup does). Output: per-shard AND merged raw
    estimates, all integer-exact until the single final division. The
    ORACLE replays both shard sketches and states the merge as
    UNION ALL + max(register) — hash-equality proves merge(sketch_e,
    sketch_o) ≡ sketch(e ∪ o) on this corpus."""
    from ..operators.sketches import hll_estimate, hll_merge, hll_registers

    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("key"),
    )
    even = hll_registers(toks.filter(F.col("doc_id") % 2 == 0), "key", p=6)
    odd = hll_registers(toks.filter(F.col("doc_id") % 2 == 1), "key", p=6)
    merged = hll_merge(even, odd)

    def est(sk, name):
        return hll_estimate(sk, p=6).select(
            F.lit(name).alias("shard"), "m", "n_registers_hit",
            "estimate_micros",
        )

    return (
        est(even, "even")
        .unionByName(est(odd, "odd"))
        .unionByName(est(merged, "merged"))
    )


@q(
    "q179_histogram_quantiles",
    """
    WITH b AS (
      SELECT lang,
             greatest(CAST(length(printf('%b',
               greatest(CAST(n_chars AS BIGINT), 1))) - 1 AS INT), 0)
               AS bin
      FROM documents
    ),
    c AS (
      SELECT lang, bin, CAST(count(*) AS BIGINT) AS cnt
      FROM b GROUP BY lang, bin
    ),
    cm AS (
      SELECT lang, bin, cnt,
             CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY bin)
                  AS BIGINT) AS cum
      FROM c
    ),
    t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n
          FROM c GROUP BY lang),
    qq AS (SELECT unnest([500000, 900000]) AS q_micros)
    SELECT cm.lang, CAST(q_micros AS BIGINT) AS q_micros, t.n,
           CAST(1 AS BIGINT) << min(cm.bin) AS bin_lo
    FROM cm JOIN t ON cm.lang = t.lang CROSS JOIN qq
    WHERE cm.cum * 1000000 >= qq.q_micros * t.n
    GROUP BY cm.lang, qq.q_micros, t.n
    """,
)
def q179_histogram_quantiles(spark, sf_dir):
    """Mergeable histogram quantiles (operators/textstats.py:
    histogram_quantiles): per-language p50/p90 ORDER OF MAGNITUDE of
    document length from a power-of-2 histogram — the shuffle-free,
    engine-replayable, MERGEABLE alternative to a percentile sort
    (shard histograms sum, so cross-run quantiles never rescan old
    data — the same union algebra as q166's HLL merge; Spark's own
    percentile_approx is an opaque unoracle-able sketch). floor(log2)
    via length(bin(v))−1; the cumulative window is partitioned BY
    GROUP over a ≤64-bin table."""
    from ..operators.textstats import histogram_quantiles

    d = _read(spark, sf_dir, "documents")
    return histogram_quantiles(d, qs_micros=(500_000, 900_000))


@q(
    "q186_histogram_shard_merge",
    """
    WITH b AS (
      SELECT lang, doc_id % 2 AS shard,
             greatest(CAST(length(printf('%b',
               greatest(CAST(n_chars AS BIGINT), 1))) - 1 AS INT), 0)
               AS bin
      FROM documents
    ),
    shard_hist AS (
      SELECT shard, lang, bin, CAST(count(*) AS BIGINT) AS cnt
      FROM b GROUP BY shard, lang, bin
    ),
    merged AS (
      SELECT lang, bin, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM shard_hist GROUP BY lang, bin
    ),
    cm AS (
      SELECT lang, bin, cnt,
             CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY bin)
                  AS BIGINT) AS cum
      FROM merged
    ),
    t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n
          FROM merged GROUP BY lang),
    qq AS (SELECT unnest([500000, 900000]) AS q_micros)
    SELECT cm.lang, CAST(q_micros AS BIGINT) AS q_micros, t.n,
           CAST(1 AS BIGINT) << min(cm.bin) AS bin_lo
    FROM cm JOIN t ON cm.lang = t.lang CROSS JOIN qq
    WHERE cm.cum * 1000000 >= qq.q_micros * t.n
    GROUP BY cm.lang, qq.q_micros, t.n
    """,
)
def q186_histogram_shard_merge(spark, sf_dir):
    """Cross-shard histogram-sketch merge (operators/textstats.py:
    histogram_quantiles_from_counts): each doc_id-parity shard builds
    its own (lang, bin) count table, the tables UNION + SUM (the
    entire merge — counts are the sketch), and the merged histogram
    feeds the identical quantile selection as q179 — proving
    union-then-sum ≡ build-on-the-union by hash equality, the same
    cross-run algebra as q166's HLL merge but for QUANTILES. At 10^5
    parquet shards the merge input is (shards × groups × ≤64 bins)
    rows of three integers."""
    from ..operators.textstats import histogram_quantiles_from_counts

    d = _read(spark, sf_dir, "documents")
    binned = d.select(
        F.col("lang").alias("grp"),
        (F.col("doc_id") % 2).alias("_shard"),
        F.greatest(
            (F.length(F.bin(F.greatest(F.col("n_chars").cast("long"),
                                       F.lit(1)))) - 1).cast("int"),
            F.lit(0),
        ).alias("bin"),
    )
    shard_hist = binned.groupBy("_shard", "grp", "bin").agg(
        F.count("*").cast("bigint").alias("c")
    )
    even = shard_hist.filter(F.col("_shard") == 0).drop("_shard")
    odd = shard_hist.filter(F.col("_shard") == 1).drop("_shard")
    return histogram_quantiles_from_counts(
        even.unionByName(odd), qs_micros=(500_000, 900_000),
        group_out="lang",
    )


@q("q201_hll_intersection", _hll_intersection_oracle(p=6))
def q201_hll_intersection(spark, sf_dir):
    """Sketch-only set-overlap estimate (operators/sketches.py:
    hll_intersection_estimate): |A∩B| by inclusion-exclusion over three
    raw HLL estimates, the union via register max-merge -- how two crawl
    snapshots' vocabularies or two runs' URL sets are compared at 10^12
    keys (three m-row sketches move; no data joins, no rescan of either
    side; composes with q166's cross-run merge algebra). The EXACT
    intersection rides along at test SF so the estimate is gradeable --
    production never computes it, which is the point. Signed estimate
    by design: sketch noise can push a near-empty overlap negative, and
    honesty beats clamping."""
    from ..operators.sketches import (
        hll_intersection_estimate,
        hll_registers,
    )

    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % 2 == 0).alias("_even"),
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("key"),
    )
    ka = toks.filter("_even").select("key")
    kb = toks.filter("NOT _even").select("key")
    est = hll_intersection_estimate(
        hll_registers(ka, "key", p=6), hll_registers(kb, "key", p=6), p=6
    )
    exact = ka.distinct().intersect(kb.distinct()).agg(
        F.count("*").cast("long").alias("exact_intersection")
    )
    return est.crossJoin(F.broadcast(exact))


@q("q212_bloom_shard_prune", _bloom_shard_oracle())
def q212_bloom_shard_prune(spark, sf_dir):
    """Bloom data skipping as an explicit, mergeable table
    (operators/bloom.py:bloom_shard_index/_prune -- the
    Parquet/Iceberg bloom pattern): per-shard bitmaps live as
    (shard, word_idx, word) rows of 32-bit words built by a
    map-combined bit_or (m/32 rows per shard no matter how many keys;
    runs merge by bit_or like HLL merges by max), and a point lookup
    scans ONLY shards where all k=7 md5 double-hash probe bits are set.
    False positives are part of the answer here (unlike q109, where an
    exact verify eats them), so the bit math itself is the oracle --
    32-bit words because DuckDB raises on signed 1<<63.
    is_true_positive exposes the fpp honestly. At 10^12 rows this
    replaces reading every file for needle lookups with ~true+fpp of
    them."""
    from ..operators.bloom import bloom_shard_index, bloom_shard_prune

    d = _read(spark, sf_dir, "documents")
    keys = d.select(
        (F.col("doc_id") % 8).alias("shard"),
        F.concat(F.lit("url:"), F.col("doc_id")).alias("key"),
    )
    idx = bloom_shard_index(keys, "key", "shard", m_bits=640, k=7)
    pq = d.filter(F.col("doc_id") % 25 == 0).select(
        F.concat(F.lit("url:"), F.col("doc_id")).alias("key"),
        (F.col("doc_id") % 8).alias("true_shard"),
    ).unionByName(
        d.filter(F.col("doc_id") % 100 == 0).select(
            F.concat(F.lit("miss:"), F.col("doc_id")).alias("key"),
            F.lit(None).cast("long").alias("true_shard"),
        )
    )
    hits = bloom_shard_prune(
        idx, pq.select("key").distinct(), m_bits=640, k=7
    )
    truth = pq.select("key", "true_shard").distinct()
    return hits.join(truth, "key").select(
        "key",
        "shard",
        F.coalesce(
            F.col("shard") == F.col("true_shard"), F.lit(False)
        ).alias("is_true_positive"),
    )


@q(
    "q220_bottomk_sketch",
    "WITH" + _bottomk_cte(k=16) + """
    SELECT dk.grp,
           CAST(count(*) AS BIGINT) AS n_in_sketch,
           CAST(coalesce(max(CASE WHEN dk.rank = 16 THEN dk.h END), 0)
                AS BIGINT) AS kth_hash,
           CAST(CASE
             WHEN max(CASE WHEN dk.rank = 16 THEN dk.h END) IS NULL
               OR max(CASE WHEN dk.rank = 16 THEN dk.h END) = 0
             THEN count(*)
             ELSE 15 * 4294967296 //
                  max(CASE WHEN dk.rank = 16 THEN dk.h END)
           END AS BIGINT) AS est_distinct,
           CAST(max(exact.exact_distinct) AS BIGINT) AS exact_distinct,
           CAST(sum(CASE WHEN merged.h IS NULL OR merged.h != dk.h
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS merge_mismatches
    FROM dk
    JOIN exact ON exact.grp = dk.grp
    LEFT JOIN merged ON merged.grp = dk.grp AND merged.rank = dk.rank
    GROUP BY dk.grp
    """,
)
def q220_bottomk_sketch(spark, sf_dir):
    """Bottom-k (KMV) distinct-value sketch per source
    (operators/sketches.py: bottomk_sketch; Bar-Yossef 2002, Beyer
    SIGMOD'07) -- the k smallest md5-hash values of each source's
    distinct tokens, the sketch family that adds Jaccard/overlap and
    uniform distinct-sampling on top of what HLL (q123) gives. The
    query ALSO proves the shard-merge law on-dataflow: sketches built
    independently on the even/odd doc_id shards, merged by
    union+re-rank (bottomk_merge), must equal the direct single-pass
    sketch row-for-row -- merge_mismatches is 0 for every group, and
    the oracle states the whole equality closed-form. est_distinct is
    the exact-integer KMV estimator (k-1)*2^32 div kth_hash; groups
    with < k distinct keys report exactly. Scale shape: map-combined
    distinct, then a window row_number partitioned BY GROUP (never a
    global sort); the constant-threshold prune documented in the
    operator keeps the per-group sorted set ~k-sized at 10^9 distinct
    keys."""
    from ..operators.sketches import (
        bottomk_estimate,
        bottomk_merge,
        bottomk_sketch,
    )

    k = 16
    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("w"),
    )
    direct = bottomk_sketch(toks, "source", "w", k=k)
    sk_even = bottomk_sketch(
        toks.filter(F.col("doc_id") % 2 == 0), "source", "w", k=k
    )
    sk_odd = bottomk_sketch(
        toks.filter(F.col("doc_id") % 2 == 1), "source", "w", k=k
    )
    merged = bottomk_merge(k, sk_even, sk_odd).select(
        "grp", "rank", F.col("h").alias("mh")
    )
    est = bottomk_estimate(direct, k=k)
    exact = (
        toks.select(F.col("source").alias("grp"), "w")
        .distinct()
        .groupBy("grp")
        .agg(F.count("*").cast("long").alias("exact_distinct"))
    )
    mism = (
        direct.join(merged, ["grp", "rank"], "left")
        .groupBy("grp")
        .agg(
            F.sum(
                F.when(
                    F.col("mh").isNull() | (F.col("mh") != F.col("h")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("merge_mismatches")
        )
    )
    return (
        est.join(exact, "grp")
        .join(mism, "grp")
        .select(
            "grp", "n_in_sketch", "kth_hash", "est_distinct",
            "exact_distinct", "merge_mismatches",
        )
    )


# --- wave: Misra-Gries heavy hitters (q331) -----------------------------------


@q(
    "q331_heavy_hitters",
    """
    WITH t AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS item
      FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total_n FROM t),
    c AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM t
          GROUP BY item)
    SELECT item, c.n,
           CAST(1000000 * c.n // total_n AS BIGINT) AS share_micros
    FROM c, tot WHERE 1000000 * c.n > 20000 * total_n
    """,
)
def q331_heavy_hitters(spark, sf_dir):
    """φ-heavy hitters via per-partition Misra-Gries + exact
    verification (operators/sketches.py heavy_hitters_mg; MG'82,
    mergeability per Agarwal PODS'12): all tokens above 2% corpus
    share over the REAL documents token stream. The two-pass shape —
    bounded per-partition summaries (pigeonhole superset guarantee)
    then a broadcast-candidate exact recount — is how heavy hitters
    are actually computed at 10^12 rows where a raw-vocabulary
    groupBy is the bottleneck; the exact second pass is also why the
    oracle is plain closed-form SQL. Deterministic under any
    partitioning by construction (pinned in pytest by comparing
    repartitioned runs)."""
    from ..operators.sketches import heavy_hitters_mg

    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("token")
    )
    return heavy_hitters_mg(toks, "token", phi_micros=20_000)
