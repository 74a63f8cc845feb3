"""Embeddings: ANN, SemDeDup, k-means/IVF/PQ, bitext, drift and moments.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


@q(
    "q22_ann_bruteforce",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qs AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 20),
    scored AS (
      SELECT qs.query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(qs.qv, b.v), 4) AS sim
      FROM base b, qs WHERE b.vec_id != qs.query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
)
def q22_ann_bruteforce(spark, sf_dir):
    """Exact cosine top-5 for 20 query vectors (brute force baseline)."""
    from ..operators.similarity import ann_bruteforce_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ann_bruteforce_topk(emb, range(20), k=5).select(
        "query_id", "neighbor_id", "sim", "rank"
    )


@q(
    "q23_ann_signlsh",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
           + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
           + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
           + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
           + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    qs AS (SELECT vec_id AS query_id, v AS qv, bucket FROM base WHERE vec_id < 20),
    scored AS (
      SELECT qs.query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(qs.qv, b.v), 4) AS sim
      FROM base b JOIN qs USING (bucket) WHERE b.vec_id != qs.query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 3
    """,
)
def q23_ann_signlsh(spark, sf_dir):
    """Sign-LSH bucketed ANN: candidates share an 8-bit sign bucket —
    bucket equi-join instead of a cross join (the scale path)."""
    from ..operators.similarity import ann_bucketed_topk

    emb = _read(spark, sf_dir, "embeddings")
    # NOTE: bucket computed on RAW float sign — identical to double sign
    return ann_bucketed_topk(emb, range(20), k=3, bits=8).select(
        "query_id", "neighbor_id", "sim", "rank"
    )


@q(
    "q24_embedding_near_dups",
    """
    WITH orig AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dups AS (
      SELECT vec_id + 10000 AS vec_id, list_transform(v, x -> x * 1.001) AS v
      FROM orig WHERE vec_id < 50
    ),
    allv AS (SELECT * FROM orig UNION ALL SELECT * FROM dups),
    a AS (SELECT vec_id AS a_id, v AS va FROM allv WHERE a_id < 200),
    pairs AS (
      SELECT a.a_id, b.vec_id AS b_id,
             round(list_cosine_similarity(a.va, b.v), 4) AS sim
      FROM a, allv b WHERE a.a_id < b.vec_id
    )
    SELECT a_id, b_id, sim FROM pairs WHERE sim >= 0.99
    """,
)
def q24_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs; 50 deterministic near-duplicates
    synthesized (v×1.001 at vec_id+10000) so the detector provably fires."""
    from ..operators.similarity import embedding_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dups = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    allv = emb.unionByName(dups)
    return embedding_near_dup_pairs(allv, threshold=0.99, max_left_id=200)


@q(
    "q45_ann_ivf",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS cell
      FROM embeddings
    ),
    qs AS (SELECT vec_id AS query_id, v AS qv, cell FROM base WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv,
             unnest([cell, xor(cell, 1), xor(cell, 2),
                     xor(cell, 4), xor(cell, 8)]) AS cell
      FROM qs
    ),
    scored AS (
      SELECT p.query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(p.qv, b.v), 4) AS sim
      FROM base b JOIN probes p USING (cell) WHERE b.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
)
def q45_ann_ivf(spark, sf_dir):
    """IVF ANN, closed-form coarse quantizer (sign-bit grid cells,
    Hamming-1 multi-probe, exact cosine re-rank) — same search skeleton as
    the KMeans IVF (``ann_ivf_topk``), whose trained-quantizer path stays
    pinned by recall tests in tests/test_dedup_similarity.py (KMeans isn't
    DuckDB-expressible)."""
    from ..operators.similarity import ann_ivf_grid_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ann_ivf_grid_topk(emb, range(10), k=5, bits=4, hamming=1).select(
        "query_id", "neighbor_id", "sim", "rank"
    )


@q(
    "q55_embedding_near_dups_lsh",
    """
    WITH orig AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dups AS (
      SELECT vec_id + 10000 AS vec_id, list_transform(v, x -> x * 1.001) AS v
      FROM orig WHERE vec_id < 50
    ),
    allv AS (SELECT * FROM orig UNION ALL SELECT * FROM dups),
    bk AS (
      SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
           + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
           + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END)
           + (CASE WHEN v[7] > 0 THEN 64 ELSE 0 END)
           + (CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket
      FROM allv
    ),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_cosine_similarity(a.v, b.v), 4) AS sim
      FROM bk a JOIN bk b USING (bucket) WHERE a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, sim FROM pairs WHERE sim >= 0.99
    """,
)
def q55_embedding_near_dups_lsh(spark, sf_dir):
    """Embedding near-dup detection, SCALE path: sign-LSH bucket equi-join
    candidates → exact cosine verify (no bounded side, no cross join) —
    the composition q24's verifier is meant to sit behind at 10^12 rows.
    Same synthesized near-duplicates as q24; the LSH path must find them
    all (scaled vectors keep their sign pattern → same bucket)."""
    from ..operators.similarity import embedding_near_dup_pairs_lsh

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dups = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    allv = emb.unionByName(dups)
    return embedding_near_dup_pairs_lsh(allv, threshold=0.99, bits=8)


@q("q112_kmeans_assign", _kmeans_assign_oracle(k=4, iters=2))
def q112_kmeans_assign(spark, sf_dir):
    """IVF coarse-quantizer training (operators/kmeans.py): 2 Lloyd
    rounds from md5-rank seeds over integer-micros vectors, then the
    final argmin assignment. Assignment is a zero-shuffle broadcast
    map (array_min over a packed centroid row); each update is one
    partial-agg shuffle of k×d sums. Engine-exact: the oracle replays
    both rounds closed-form in the same integer arithmetic."""
    from ..operators.kmeans import kmeans_assign

    emb = _read(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=4, iters=2)


@q("q113_ann_ivf_trained", _ivf_trained_oracle())
def q113_ann_ivf_trained(spark, sf_dir):
    """IVF ANN over a TRAINED coarse quantizer (operators/kmeans.py
    ann_ivf_trained_topk): q112's deterministic Lloyd training feeds the
    cell index; queries probe their 2 nearest cells and candidates come
    from the cell equi-join — never all-pairs. Unlike q45's MLlib twin,
    the ENTIRE pipeline (training included) is replayed closed-form by
    the oracle in exact integer-micros arithmetic."""
    from ..operators.kmeans import ann_ivf_trained_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ann_ivf_trained_topk(emb, query_ids=[1, 2, 3, 5, 8], k=5,
                                n_cells=4, iters=2, n_probe=2)


@q("q121_pq_codes", _pq_oracle(m=4, k=4, iters=1, dim=64))
def q121_pq_codes(spark, sf_dir):
    """Product-quantization codes (operators/kmeans.py:pq_codes): the
    64-dim embedding splits into 4 subvectors, each with its own
    deterministic-Lloyd 4-centroid codebook; the vector compresses to
    4 code ids plus an exact integer reconstruction error. Training is
    the q112 zero-shuffle-assignment machinery per slice; the pivot
    back to one row per vector is a single groupBy(vec_id) over slim
    (vec_id, sub, cid) rows — never m self-joins. The oracle replays
    all four trainings closed-form in one WITH clause. ``codes`` comes
    out comma-joined, so every output column is a scalar."""
    from ..operators.kmeans import pq_codes

    pq = pq_codes(_read(spark, sf_dir, "embeddings"), m=4, k=4, iters=1)
    return pq.withColumn(
        "codes", F.array_join(F.col("codes").cast("array<string>"), ",")
    )


@q(
    "q147_embedding_outliers",
    """
    WITH ex AS (
      SELECT vec_id, label, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
    ),
    cent AS (
      SELECT label, dim,
             (sum(x) - ((sum(x) % count(*) + count(*)) % count(*)))
               // count(*) AS c
      FROM ex GROUP BY label, dim
    ),
    d2 AS (
      SELECT vec_id, ex.label,
             CAST(sum((x - c) * (x - c)) AS BIGINT) AS dist2
      FROM ex JOIN cent USING (label, dim)
      GROUP BY vec_id, ex.label
    ),
    r AS (
      SELECT label, vec_id, dist2,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist2 DESC, vec_id) AS rank
      FROM d2
    )
    SELECT label, vec_id, dist2, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def q147_embedding_outliers(spark, sf_dir):
    """Top-5 farthest-from-centroid vectors per label
    (operators/kmeans.py:embedding_outliers) — the audit that catches
    mislabeled/off-topic/encoder-garbage vectors before IVF training
    and dedup. Integer-micros exact: floor-quantized values, pmod-
    adjusted floor-division centroids (negative sums!), vec-keyed
    partial-agg distances, label-partitioned rank window."""
    from ..operators.kmeans import embedding_outliers

    return embedding_outliers(_read(spark, sf_dir, "embeddings"))


@q(
    "q184_ann_recall",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS cell
      FROM embeddings
    ),
    qs AS (SELECT vec_id AS query_id, v AS qv, cell
           FROM base WHERE vec_id < 10),
    ts AS (
      SELECT qs.query_id, b.vec_id AS nid,
             round(list_cosine_similarity(qs.qv, b.v), 4) AS sim
      FROM base b, qs WHERE b.vec_id != qs.query_id
    ),
    truth AS (
      SELECT query_id, nid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY sim DESC, nid) AS rk
        FROM ts) WHERE rk <= 5
    ),
    probes AS (
      SELECT query_id, qv,
             unnest([cell, xor(cell, 1), xor(cell, 2),
                     xor(cell, 4), xor(cell, 8)]) AS cell
      FROM qs
    ),
    sc AS (
      SELECT p.query_id, b.vec_id AS nid,
             round(list_cosine_similarity(p.qv, b.v), 4) AS sim
      FROM base b JOIN probes p USING (cell)
      WHERE b.vec_id != p.query_id
    ),
    approx AS (
      SELECT query_id, nid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY sim DESC, nid) AS rk
        FROM sc) WHERE rk <= 5
    )
    SELECT t.query_id,
           CAST(count(a.nid) AS BIGINT) AS n_hits,
           (CAST(count(a.nid) AS BIGINT) * 1000000) // 5
             AS recall_micros
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.nid = t.nid
    GROUP BY t.query_id
    """,
)
def q184_ann_recall(spark, sf_dir):
    """Recall@5 of the IVF grid search vs exact brute force
    (operators/similarity.py:ann_recall_eval): the acceptance gate
    every ANN deployment runs before trading exactness for scale —
    ground truth from the bounded brute-force verifier on a SAMPLED
    query set (recall is per-query, so sampling queries, never corpus
    rows, is the honest protocol; q149 is the dedup sibling). One
    (query, neighbor) equi-join over two top-k tables + a query-sized
    agg. The ORACLE replays truth, multi-probe search, and the
    intersection count."""
    from ..operators.similarity import (
        ann_bruteforce_topk,
        ann_ivf_grid_topk,
        ann_recall_eval,
    )

    emb = _read(spark, sf_dir, "embeddings")
    truth = ann_bruteforce_topk(emb, range(10), k=5)
    approx = ann_ivf_grid_topk(emb, range(10), k=5, bits=4, hamming=1)
    return ann_recall_eval(truth, approx, k=5)


# --- wave: bitext mining / exact harmonic centrality / embedding moments /
#           bottom-k KMV sketches (q217-q220) --------------------------------


@q(
    "q217_bitext_candidates",
    """
    WITH p AS (
      SELECT doc_id, lang, n_chars,
             'https://' || source || '.example.com/' || lang ||
               '/docs/' || CAST(doc_id % 40 AS VARCHAR) AS url
      FROM documents
    ),
    t AS (
      SELECT doc_id, lang, n_chars,
             regexp_replace(url, '/[a-z]{2}([-_][a-zA-Z]{2})?/',
                            '/{L}/', 'g') AS tpl
      FROM p
    )
    SELECT a.tpl,
           a.doc_id AS id_a, a.lang AS lang_a, a.n_chars AS size_a,
           b.doc_id AS id_b, b.lang AS lang_b, b.n_chars AS size_b
    FROM t a JOIN t b ON a.tpl = b.tpl
    WHERE a.lang < b.lang
      AND a.n_chars * 2 <= b.n_chars * 4
      AND b.n_chars * 2 <= a.n_chars * 4
    """,
)
def q217_bitext_candidates(spark, sf_dir):
    """Bitext candidate mining (operators/bitext.py: ParaCrawl/CCMatrix
    stage 1) -- cross-lingual parallel-page pairs from URL structure:
    the language path segment is templated out with ONE JVM
    regexp_replace and pages meet by equi-join on (host, template), so
    the shuffle partitions by site section and no pair crosses hosts.
    A 2:1 length-ratio gate (integer form, no division) drops
    misaligned pairs before any content work. Fixture: each document
    gets a /{lang}/docs/{doc_id%40} URL on its source's host, so
    same-source same-slot docs in different languages pair up; sizes
    come from the real n_chars column so the ratio gate has bite.
    Reference parity: none (single-site, monolingual crawler) -- pure
    scale-path addition."""
    from ..operators.bitext import bitext_candidates

    d = _read(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"),
            F.col("lang"), F.lit("/docs/"),
            (F.col("doc_id") % 40).cast("string"),
        ).alias("url"),
    )
    return bitext_candidates(pages)


@q(
    "q219_embedding_moments",
    """
    WITH ex AS (
      SELECT vec_id, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
                  AS BIGINT) AS xm
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
    )
    SELECT a.dim AS i, b.dim AS j,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a.xm * b.xm) AS BIGINT) AS sxy,
           CAST(sum(a.xm) AS BIGINT) AS sxi,
           CAST(sum(b.xm) AS BIGINT) AS sxj,
           CAST(floor(
             CAST(count(*) * sum(a.xm * b.xm) - sum(a.xm) * sum(b.xm)
                  AS DOUBLE)
             / CAST(count(*) * count(*) AS DOUBLE)
           ) AS BIGINT) AS cov_micros
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    GROUP BY a.dim, b.dim
    """,
)
def q219_embedding_moments(spark, sf_dir):
    """Exact corpus mean + covariance of the embedding matrix
    (operators/similarity.py: embedding_moments) -- the whitening/PCA
    sufficient statistics SemDeDup-style pipelines compute before
    clustering 10^12 vectors. ONE mapInPandas pass emits batch-local
    integer-milli Gram partials (D(D+1)/2 rows PER BATCH via an int64
    numpy matmul -- never per doc), then a map-combined groupBy(i,j)
    sums them: the shuffle is O(partitions * D^2) regardless of corpus
    size (MLlib's computeGramianMatrix shape, DataFrame-native). The
    single division per output cell runs once on exact integers; the
    oracle replays the quantization and the same floor expression.
    The eigen-solve on the returned 64x64 matrix is driver-side numpy
    on ~2 KB -- deliberately not a Spark job."""
    from ..operators.similarity import embedding_moments

    return embedding_moments(_read(spark, sf_dir, "embeddings"))


@q(
    "q221_bitext_margin",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_BUCKET8_SQL} AS bucket,
             vec_id % 2 AS side
      FROM embeddings
    ),
    cand AS (
      SELECT x.vec_id AS id_x, y.vec_id AS id_y,
             round(list_cosine_similarity(x.v, y.v), 4) AS sim
      FROM base x JOIN base y USING (bucket)
      WHERE x.side = 0 AND y.side = 1
    ),
    kx AS (
      SELECT id_x, round(avg(sim), 6) AS avgk_x FROM (
        SELECT id_x, sim, row_number() OVER (
          PARTITION BY id_x ORDER BY sim DESC, id_y
        ) AS r FROM cand
      ) WHERE r <= 4 GROUP BY id_x
    ),
    ky AS (
      SELECT id_y, round(avg(sim), 6) AS avgk_y FROM (
        SELECT id_y, sim, row_number() OVER (
          PARTITION BY id_y ORDER BY sim DESC, id_x
        ) AS r FROM cand
      ) WHERE r <= 4 GROUP BY id_y
    ),
    sc AS (
      SELECT c.id_x, c.id_y, c.sim, kx.avgk_x, ky.avgk_y,
             round(2.0 * c.sim / (kx.avgk_x + ky.avgk_y), 4) AS margin
      FROM cand c JOIN kx USING (id_x) JOIN ky USING (id_y)
    )
    SELECT id_x, id_y, sim, avgk_x, avgk_y, margin FROM (
      SELECT *, row_number() OVER (
        PARTITION BY id_x ORDER BY margin DESC, id_y
      ) AS r FROM sc
    ) WHERE r = 1
    """,
)
def q221_bitext_margin(spark, sf_dir):
    """Margin-based bitext scoring (operators/bitext.py stage 2 --
    Artetxe & Schwenk 2019 ratio margin, the CCMatrix mining
    criterion): candidate cross-lingual pairs come from a sign-LSH
    bucket equi-join (never all-pairs); each candidate cosine is
    normalized by the average of both endpoints' top-4 candidate
    cosines (id-partitioned windows -- key-local, no global sort) and
    each source vector keeps its best partner by margin. Fixture:
    even vec_ids play the source-language pool, odd the target pool.
    Reference parity: none (monolingual crawler) -- scale-path
    addition composing with q217's structural candidates."""
    from ..operators.bitext import bitext_margin_scores

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "side", (F.col("vec_id") % 2).cast("int")
    )
    return bitext_margin_scores(emb, k=4, bits=8)


@q(
    "q222_jl_projection",
    """
    WITH ex AS (
      SELECT vec_id, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
                  AS BIGINT) AS xm
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
    ),
    pj AS (
      SELECT vec_id, CAST(j AS INTEGER) AS j,
             CAST(sum(xm * (1 - 2 * ((dim * 31 + j * 17) % 2)))
                  AS BIGINT) AS pj
      FROM ex, unnest(range(0, 16)) AS t(j)
      GROUP BY vec_id, j
    ),
    oss AS (
      SELECT vec_id, CAST(sum(xm * xm) AS BIGINT) AS orig_ss
      FROM ex GROUP BY vec_id
    ),
    pss AS (
      SELECT vec_id, CAST(sum(pj * pj) AS BIGINT) AS proj_ss
      FROM pj GROUP BY vec_id
    )
    SELECT p.vec_id, p.j, p.pj, o.orig_ss, s.proj_ss,
           CAST((s.proj_ss * 1000000)
                // (greatest(o.orig_ss, 1) * 16) AS BIGINT)
             AS ratio_micros
    FROM pj p JOIN oss o USING (vec_id) JOIN pss s USING (vec_id)
    """,
)
def q222_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection to 16 dims with a
    deterministic +-1 sign matrix (operators/similarity.py
    jl_random_projection -- Achlioptas 2003): ONE mapInPandas int64
    matmul per Arrow batch, zero shuffle, embarrassingly parallel.
    Inputs quantize to integer millis so every projected coordinate is
    an order-free integer dot product the oracle replays exactly; the
    per-vector ratio_micros column audits norm preservation
    (E[proj_ss] = 16 * orig_ss for +-1 signs). The pre-ANN shrink step
    for 10^12-vector indexes. Reference parity: none."""
    from ..operators.similarity import jl_random_projection

    return jl_random_projection(
        _read(spark, sf_dir, "embeddings"), out_dim=16, quant=1000
    )


@q(
    "q224_robust_outliers",
    """
    WITH med AS (
      SELECT lang AS grp,
             quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
      FROM documents GROUP BY lang
    ),
    mad AS (
      SELECT d.lang AS grp,
             quantile_cont(abs(CAST(d.n_chars AS DOUBLE) - m.med), 0.5)
               AS mad
      FROM documents d JOIN med m ON d.lang = m.grp
      GROUP BY d.lang
    )
    SELECT d.doc_id AS id, d.lang AS grp,
           CAST(d.n_chars AS DOUBLE) AS x, m.med, a.mad,
           CASE WHEN a.mad > 0 THEN
             round(0.6745 * (CAST(d.n_chars AS DOUBLE) - m.med) / a.mad, 4)
           END AS z,
           coalesce(
             CASE WHEN a.mad > 0 THEN
               abs(round(0.6745 * (CAST(d.n_chars AS DOUBLE) - m.med)
                         / a.mad, 4)) > 3.5
             END, false) AS is_outlier
    FROM documents d
    JOIN med m ON d.lang = m.grp
    JOIN mad a ON d.lang = a.grp
    """,
)
def q224_robust_outliers(spark, sf_dir):
    """Per-language robust length-outlier gate via median/MAD modified
    z-score (operators/stats.py robust_outliers_mad -- Iglewicz &
    Hoaglin 1993): mean/stddev are dragged by the very outliers they
    should catch; median and MAD have a 50% breakdown point. TWO
    grouped exact percentile aggregations (partial-agg, never a corpus
    window), per-group 1-row dims broadcast back, z as per-row codegen;
    swap both calls to percentile_approx unchanged at 10^12 rows
    (textstats.length_percentiles' documented KLL path)."""
    from ..operators.stats import robust_outliers_mad

    return robust_outliers_mad(
        _read(spark, sf_dir, "documents"), "n_chars", "lang"
    )


@q(
    "q229_sentence_align",
    """
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '),
                         w -> length(w) > 0) AS w
      FROM documents
    ),
    sents AS (
      SELECT doc_id, CAST(i AS BIGINT) AS idx,
             CAST((len(w) + 9) // 10 AS BIGINT) AS n_sents,
             w[(i * 10 + 1):(i * 10 + 10)] AS toks
      FROM ws, unnest(range(0, (len(w) + 9) // 10)) AS r(i)
    ),
    a AS (
      SELECT doc_id AS pair_id, idx AS i, n_sents AS na,
             list_distinct(toks) AS ta
      FROM sents WHERE doc_id < 250
    ),
    b AS (
      SELECT doc_id - 250 AS pair_id, idx AS j, n_sents AS nb,
             list_distinct(toks) AS tb
      FROM sents WHERE doc_id >= 250
    ),
    cand AS (
      SELECT a.pair_id, a.i, b.j,
             CASE WHEN len(list_distinct(list_concat(ta, tb))) > 0
             THEN CAST(len(list_intersect(ta, tb)) AS BIGINT)
                  * 1000000
                  // len(list_distinct(list_concat(ta, tb)))
             ELSE 0 END AS jacc_micros
      FROM a JOIN b USING (pair_id)
      WHERE abs(b.j * a.na - a.i * b.nb) <= 2 * a.na
    )
    SELECT pair_id, i, j, CAST(jacc_micros AS BIGINT) AS jacc_micros
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY pair_id, i ORDER BY jacc_micros DESC, j
      ) AS r FROM cand
    ) WHERE r = 1
    """,
)
def q229_sentence_align(spark, sf_dir):
    """Banded diagonal sentence alignment inside candidate document
    pairs (operators/bitext.py align_sentences_banded -- hunalign /
    Gale-Church's diagonal-corridor insight made relational): sentence
    i of the source may only pair inside |j*na - i*nb| <= band*na (the
    integer cross-multiplied corridor -- no division), scored by exact
    token-set Jaccard in micros. ONE pair-keyed equi-join (shuffle
    partitions by document pair, nothing global) + a (pair, i)-
    partitioned window. Fixture: doc d < 250 pairs with doc d+250;
    sentences are 10-token slices."""
    from ..operators.bitext import align_sentences_banded

    d = _read(spark, sf_dir, "documents")
    ws = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        .alias("w"),
    )
    sents = ws.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                ((F.size("w") + 9) / 10).cast("long") - 1,
            )
        ).alias("idx"),
        ((F.size("w") + 9) / 10).cast("long").alias("n_sents"),
        F.col("w"),
    ).select(
        "doc_id",
        "idx",
        "n_sents",
        F.slice(
            "w", (F.col("idx") * 10 + 1).cast("int"), 10
        ).alias("tokens"),
    )
    sent_a = sents.filter(F.col("doc_id") < 250).select(
        F.col("doc_id").alias("pair_id"), "idx", "n_sents", "tokens"
    )
    sent_b = sents.filter(F.col("doc_id") >= 250).select(
        (F.col("doc_id") - 250).alias("pair_id"),
        "idx",
        "n_sents",
        "tokens",
    )
    return align_sentences_banded(sent_a, sent_b, band=2)


# --- wave: embedding drift / gate agreement kappa / dedup transitivity
#           (q236-q238) -------------------------------------------------------


@q(
    "q236_embedding_drift",
    """
    WITH ex AS (
      SELECT vec_id, CAST(vec_id % 2 AS VARCHAR) AS batch, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
                  AS BIGINT) AS xm
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
    ),
    s AS (
      SELECT batch, dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xm) AS BIGINT) AS sx
      FROM ex GROUP BY batch, dim
    ),
    pair AS (
      SELECT a.batch AS batch_a, b.batch AS batch_b, a.dim,
             a.n AS n_a, b.n AS n_b,
             (a.sx * 1000) // a.n - (b.sx * 1000) // b.n AS diff
      FROM s a JOIN s b ON a.dim = b.dim AND a.batch < b.batch
    )
    SELECT batch_a, batch_b, max(n_a) AS n_a, max(n_b) AS n_b,
           CAST(sum(diff * diff) AS BIGINT) AS dist_sq_milli2,
           array_to_string(
             (list(dim ORDER BY abs(diff) DESC, dim))[1:5], ','
           ) AS top_dims_str
    FROM pair GROUP BY batch_a, batch_b
    """,
)
def q236_embedding_drift(spark, sf_dir):
    """Embedding-space drift between corpus batches (operators/
    similarity.py embedding_drift): exact integer-milli mean vectors
    per batch (ONE map-combined groupBy -- D rows per batch move),
    then squared L2 distance between means + the 5 highest-drift
    dimensions per batch pair -- the covariate-shift monitor run
    before mixing a new crawl into an index (q219's moments are the
    second-moment companion). Floor division uses the grouped_ols
    numerator-adjust idiom so NEGATIVE sums floor identically in both
    engines. Batches here: vec_id % 2."""
    from ..operators.similarity import embedding_drift

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "_batch", (F.col("vec_id") % 2).cast("string")
    )
    out = embedding_drift(emb, "_batch", quant=1000, top_dims=5)
    return out.select(
        "batch_a",
        "batch_b",
        "n_a",
        "n_b",
        "dist_sq_milli2",
        F.array_join(
            F.transform(
                "top_drift_dims", lambda d: d.cast("string")
            ),
            ",",
        ).alias("top_dims_str"),
    )


@q(
    "q250_embedding_quality",
    """
    WITH ex AS (
      SELECT vec_id,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
                  AS BIGINT) AS xm
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
    ),
    ssq AS (
      SELECT vec_id, CAST(sum(xm * xm) AS BIGINT) AS ss
      FROM ex GROUP BY vec_id
    ),
    nfq AS (
      SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
             len(list_filter(embedding,
                 x -> isnan(CAST(x AS DOUBLE))
                      OR abs(CAST(x AS DOUBLE)) > 1e300)) AS nf
      FROM embeddings
    ),
    per AS (
      SELECT n.vec_id, n.dim,
             CASE WHEN n.nf > 0 THEN 1 ELSE 0 END AS bad,
             CASE WHEN s.ss = 0 THEN 1 ELSE 0 END AS zero,
             s.ss // 1000000 AS norm_bin
      FROM nfq n JOIN ssq s USING (vec_id)
    ),
    cells AS (
      SELECT dim, norm_bin,
             CAST(count(*) AS BIGINT) AS n_in_bin,
             CAST(sum(bad) AS BIGINT) AS n_nonfinite_in_bin,
             CAST(sum(zero) AS BIGINT) AS n_zero_in_bin
      FROM per GROUP BY dim, norm_bin
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_vectors,
             CAST(sum(bad) AS BIGINT) AS n_nonfinite,
             CAST(sum(zero) AS BIGINT) AS n_zero
      FROM per
    )
    SELECT c.dim, c.norm_bin, c.n_in_bin, c.n_nonfinite_in_bin,
           c.n_zero_in_bin, t.n_vectors, t.n_nonfinite, t.n_zero
    FROM cells c CROSS JOIN tot t
    """,
)
def q250_embedding_quality(spark, sf_dir):
    """Embedding-table data-quality audit (operators/similarity.py
    embedding_quality_audit): NaN/Inf elements, all-zero vectors
    (cosine's classic silent failure), dimension consistency, and the
    quantized norm histogram (bimodal = two encoder versions mixed) --
    the pre-index checks next to q243's generic table profile. One
    codegen pass per row (higher-order array exprs, zero Python), one
    (dim, norm_bin) partial-agg groupBy, corpus totals broadcast onto
    the cell table. Value-determined bins, exact integers."""
    from ..operators.similarity import embedding_quality_audit

    return embedding_quality_audit(_read(spark, sf_dir, "embeddings"))


# --- wave: contrastive triplets (q286) ----------------------------------------


@q(
    "q286_contrastive_triplets",
    """
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM documents),
    toks AS (
      SELECT doc_id, list_filter(
               string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0) AS l
      FROM documents
    ),
    el AS (SELECT doc_id, l, len(l) AS n FROM toks WHERE len(l) >= 2),
    h AS (
      SELECT doc_id,
             array_to_string(l[1:(n // 2)], ' ') AS anchor,
             array_to_string(l[(n // 2 + 1):n], ' ') AS positive
      FROM el
    )
    SELECT a.doc_id, a.anchor, a.positive,
           CAST((a.doc_id + nn.N // 2) % nn.N AS BIGINT) AS neg_id,
           b.anchor AS negative
    FROM h a CROSS JOIN nn
    JOIN h b ON b.doc_id = (a.doc_id + nn.N // 2) % nn.N
    """,
)
def q286_contrastive_triplets(spark, sf_dir):
    """Deterministic contrastive-triplet mining (operators/chunking.py
    contrastive_triplets; the DPR/SimCSE training-data shape): anchor
    and positive are the two halves of one document, the negative is
    the anchor of the document N/2 away — no RNG, so the mined set is
    reproducible and hash-oracle-able; swap the arithmetic negative
    for q114's BM25 top-k to get hard negatives with the same
    relation shape. Halves are slice/array_join codegen; the negative
    lookup is one id-keyed equi-join."""
    from ..operators.chunking import contrastive_triplets

    d = _read(spark, sf_dir, "documents")
    return contrastive_triplets(d)


# --- wave: int8 quantization audit (q295) -------------------------------------


@q(
    "q295_int8_quant",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS l
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, l, len(l) AS dim,
             list_max(list_transform(l, x -> abs(x))) / 127.0 AS scale
      FROM v
    ),
    e AS (
      SELECT vec_id, l, dim, scale,
             list_transform(
               l, x -> greatest(-127.0, least(127.0,
                         floor(x / scale + 0.5))) * scale - x
             ) AS err
      FROM s
    )
    SELECT vec_id, CAST(dim AS INT) AS dim,
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE floor(1e6 * scale) END AS BIGINT) AS scale_micros,
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE floor(1e6 * list_max(list_transform(err,
                       x -> abs(x)))) END AS BIGINT)
             AS max_abs_err_micros,
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE floor(1e6 * (list_sum(list_transform(err,
                       x -> x * x)) / dim)) END AS BIGINT)
             AS mse_micros
    FROM e
    """,
)
def q295_int8_quant(spark, sf_dir):
    """Symmetric int8 scalar quantization + reconstruction-error audit
    (operators/similarity.py int8_quantization_audit; FAISS SQ8's
    recipe): scale = max|x|/127, half-up rounding, clamp — and the
    max-abs / MSE error columns you check against the ANN recall
    budget (q184) before flipping an index to SQ8 at 4x memory
    savings. Pure array codegen over the embedding column — zero
    shuffle, zero Python; every fold is the same left-to-right
    expression the oracle states, so integer micros hash-match."""
    from ..operators.similarity import int8_quantization_audit

    e = _read(spark, sf_dir, "embeddings")
    return int8_quantization_audit(e)
