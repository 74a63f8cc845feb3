"""Similarity search over embedding columns (array<float>).

Beyond-reference capability (task brief): brute-force cosine top-k as the
exactness baseline; sign-LSH bucketing as the scale path (bucket equi-join
replaces the cross join — at 10^12 rows you shard by bucket, search within
bucket, and multi-probe for recall).

Determinism: embeddings cast element-wise to double BEFORE arithmetic; dot
products accumulate left-to-right (higher-order ``aggregate``); similarities
are rounded to 4 decimals and ranked on (rounded_sim DESC, id ASC) so two
engines produce identical rank orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_col(a, b):
    """Cosine similarity of two array<double> columns, left-to-right sums."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def ann_bruteforce_topk(emb: DataFrame, query_ids, k: int = 5) -> DataFrame:
    """(query_id, neighbor_id, rank, sim): exact top-k by cosine for the
    given query ids (self excluded). Broadcast the (small) query side —
    the corpus side streams, no shuffle of the big table."""
    base = emb.select(F.col("vec_id"), _dbl(F.col("embedding")).alias("v"))
    q = base.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = base.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_col(F.col("qv"), F.col("v")), 4).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sign_lsh_bucket(vec_col, bits: int = 8):
    """Axis-aligned sign-LSH bucket id: Σ 2^i · [v[i] > 0], i < bits.
    (A production variant uses random hyperplanes; axis signs keep the
    construction closed-form for oracles while exercising identical
    plumbing.)"""
    b = F.lit(0)
    for i in range(bits):
        b = b + F.when(F.element_at(vec_col, i + 1) > 0, F.lit(2 ** i)).otherwise(F.lit(0))
    return b


def ann_bucketed_topk(emb: DataFrame, query_ids, k: int = 3, bits: int = 8) -> DataFrame:
    """Approximate top-k: candidates share the query's sign-LSH bucket.
    Bucket equi-join — scales as Σ bucket², not n²."""
    base = emb.select(
        F.col("vec_id"),
        _dbl(F.col("embedding")).alias("v"),
    ).withColumn("bucket", sign_lsh_bucket(F.col("v"), bits))
    q = base.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    cands = base.join(F.broadcast(q), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_col(F.col("qv"), F.col("v")), 4).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_ivf_topk(emb: DataFrame, query_ids, k: int = 5, n_cells: int = 16,
                 n_probe: int = 3, seed: int = 42, sample_fraction: float = 1.0) -> DataFrame:
    """IVF-style ANN: MLlib KMeans coarse quantizer → inverted cells.

    Index: fit K centroids (on a sample at scale), assign every vector to
    its nearest cell — at 10^12 rows the assignment is one broadcast of K
    centroids and the table is stored bucketed by ``cell``. Search: each
    query probes its ``n_probe`` nearest cells; candidates come from a
    cell equi-join (≈ n·n_probe/K of the corpus), then exact cosine re-rank.
    Deterministic given ``seed``; recall vs brute force is pinned in tests
    (not SQL-oracle-able — KMeans isn't expressible in DuckDB)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    base = emb.select(F.col("vec_id"), _dbl(F.col("embedding")).alias("v"))
    fit_on = base if sample_fraction >= 1.0 else base.sample(
        fraction=sample_fraction, seed=seed
    )
    km = KMeans(k=n_cells, seed=seed, featuresCol="feat", predictionCol="cell")
    model = km.fit(fit_on.withColumn("feat", array_to_vector("v")))
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cdf = emb.sparkSession.createDataFrame(
        centers, "cell int, center array<double>"
    )

    assigned = (
        model.transform(base.withColumn("feat", array_to_vector("v")))
        .drop("feat")
    )
    q = assigned.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # multi-probe: n_probe nearest centroids per query (tiny cross join:
    # |queries| × K, both broadcast-scale)
    qc = q.crossJoin(F.broadcast(cdf)).select(
        "query_id", "qv", "cell",
        F.round(cosine_col(F.col("qv"), F.col("center")), 6).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), "cell")
    probes = (
        qc.withColumn("prank", F.row_number().over(wq))
        .filter(F.col("prank") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    cands = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_col(F.col("qv"), F.col("v")), 4).alias("sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_ivf_grid_topk(emb: DataFrame, query_ids, k: int = 5, bits: int = 4,
                      hamming: int = 1) -> DataFrame:
    """IVF ANN with a closed-form coarse quantizer — the driver-checkable
    twin of :func:`ann_ivf_topk`.

    Cells: sign bits of the first ``bits`` dims (2^bits cells). Multi-probe:
    the query's own cell plus every cell at Hamming distance ≤ ``hamming``
    (bit flips; ``hamming=2`` adds the C(bits,2) two-bit flips — probe list
    stays 1 + bits + bits·(bits-1)/2, bounded and broadcastable) —
    deterministic, no trained centroids, so an external
    SQL engine can state the exact result. Search skeleton is identical to
    the KMeans IVF: candidates from a cell equi-join (broadcast probe list),
    exact cosine re-rank, top-k. At 10^12 rows the table is stored bucketed
    by ``cell`` and each probe reads only its cells."""
    if hamming > 2:
        raise ValueError(
            "hamming > 2 not implemented (C(bits,h) probe growth; at h>2 "
            "you want more bits or the KMeans IVF, not a wider probe)"
        )
    base = emb.select(
        F.col("vec_id"), _dbl(F.col("embedding")).alias("v")
    ).withColumn("cell", sign_lsh_bucket(F.col("v"), bits).cast("int"))
    q = base.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cell"
    )
    masks = [0]
    if hamming >= 1:
        masks += [1 << i for i in range(bits)]
    if hamming >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(bits)
            for j in range(i + 1, bits)
        ]
    probes = q.select(
        "query_id", "qv",
        F.explode(
            F.array(*[F.col("cell").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("cell"),
    )
    cands = base.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_col(F.col("qv"), F.col("v")), 4).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dup_pairs_lsh(emb: DataFrame, threshold: float = 0.95,
                                 bits: int = 8) -> DataFrame:
    """(a_id, b_id, sim ≥ threshold): embedding near-dup detection at
    corpus scale — candidates come from a sign-LSH bucket EQUI-JOIN
    (Σ bucket² work, never n²), then exact cosine verify + threshold.

    Recall: a pair is found iff it agrees on all ``bits`` leading signs;
    for near-identical vectors (threshold ≥ ~0.95) sign flips are confined
    to coordinates near 0, so recall is high — raise it further by
    unioning several bit-subsets (banding) or Hamming-probing buckets, the
    same trade as MinHash bands. This is the 10^12-row path; the bounded
    cross-join verifier below is for candidate lists only."""
    base = emb.select(
        F.col("vec_id"), _dbl(F.col("embedding")).alias("v")
    ).withColumn("bucket", sign_lsh_bucket(F.col("v"), bits))
    a = base.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"),
                    "bucket")
    b = base.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"),
                    "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id",
            F.round(cosine_col(F.col("va"), F.col("vb")), 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             max_left_id: int | None = None,
                             vectorized: bool = True) -> DataFrame:
    """(a_id, b_id, sim ≥ threshold): embedding-cosine near-dup VERIFIER.
    Bounded left side keeps the pair space tractable; at corpus scale use
    :func:`embedding_near_dup_pairs_lsh` (bucket equi-join) instead.

    ``vectorized=True`` (default) broadcasts the bounded left side as a
    numpy matrix and scores each Arrow batch of the right side with ONE
    BLAS matmul inside ``mapInPandas`` — ~50× over the per-pair
    higher-order-expression path (Catalyst ``aggregate``/``zip_with``
    don't participate in whole-stage codegen). A tiny epsilon slack is
    applied to the raw-similarity pre-filter; the authoritative
    ``round(sim, 4) >= threshold`` cut runs JVM-side afterwards, so both
    paths emit IDENTICAL rows (rounding semantics stay Spark's, and
    borderline pairs are never lost to float noise). The expression path
    (``vectorized=False``) remains as the engine-pure reference."""
    base = emb.select(F.col("vec_id"), _dbl(F.col("embedding")).alias("v"))
    left = base if max_left_id is None else base.filter(F.col("vec_id") < max_left_id)
    if not vectorized:
        a = left.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
        b = base.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"))
        return (
            a.crossJoin(b)
            .filter(F.col("a_id") < F.col("b_id"))
            .select(
                "a_id", "b_id",
                F.round(cosine_col(F.col("va"), F.col("vb")), 4).alias("sim"),
            )
            .filter(F.col("sim") >= threshold)
        )

    import numpy as np
    import pandas as pd

    # the left side is bounded BY CONTRACT (this is the verifier, not the
    # scale path) — collecting it is collecting a candidate list
    lrows = left.collect()
    l_ids = np.array([r[0] for r in lrows], dtype=np.int64)
    lmat = np.array([r[1] for r in lrows], dtype=np.float64)
    lnorm = lmat / np.linalg.norm(lmat, axis=1, keepdims=True)
    bcast = emb.sparkSession.sparkContext.broadcast((l_ids, lnorm))
    eps = 1e-9

    def score(batches):
        ids, ln = bcast.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            b_ids = pdf["_bid"].to_numpy(dtype=np.int64)
            bmat = np.array(list(pdf["v"]), dtype=np.float64)
            bn = bmat / np.linalg.norm(bmat, axis=1, keepdims=True)
            sims = ln @ bn.T                     # (n_left, batch)
            ai, bi = np.nonzero(
                (sims >= threshold - 5e-5 - eps)
                & (ids[:, None] < b_ids[None, :])
            )
            yield pd.DataFrame({
                "a_id": ids[ai], "b_id": b_ids[bi],
                "sim_raw": sims[ai, bi],
            })

    cand = base.select(
        F.col("vec_id").alias("_bid"), "v"
    ).mapInPandas(score, schema="a_id long, b_id long, sim_raw double")
    return (
        cand.select(
            "a_id", "b_id", F.round("sim_raw", 4).alias("sim")
        ).filter(F.col("sim") >= threshold)
    )


def ann_recall_eval(truth: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate neighbor search against exact
    ground truth: per query, how many of the true top-k the ANN path
    returned — the acceptance gate every IVF/LSH deployment runs on a
    labeled slice before trading exactness for scale (the retrieval
    sibling of q149's dedup-eval harness). Ground truth at corpus
    scale comes from the bounded brute-force verifier on a SAMPLE of
    queries — recall is a per-query statistic, so sampling queries
    (never corpus rows) is the honest protocol.

    Returns (query_id, n_hits, recall_micros) with recall =
    1e6·|truth ∩ approx| div k; queries with zero overlap keep a row.
    Shape: one equi-join on (query, neighbor) + a query-sized agg —
    both inputs are already top-k tables (query-count × k rows).
    """
    t = truth.select(F.col("query_id"), F.col("neighbor_id"))
    a = approx.select(F.col("query_id"), F.col("neighbor_id"))
    hits = t.join(a, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_hits")
    )
    qlist = t.select("query_id").distinct()
    return qlist.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0).cast("bigint")).alias("n_hits"),
        F.expr(f"coalesce(n_hits, 0L) * 1000000L div {k}L")
        .alias("recall_micros"),
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    cos_threshold_micros: int = 500_000,
    df_cap_ppm: int = 100_000,
) -> DataFrame:
    """EXACT sparse tf-idf cosine similarity self-join — (a_id, b_id,
    dot, cos_micros) for every pair with cosine >= threshold — without
    embeddings and without an all-pairs product. The lexical complement
    of embedding_near_dup_pairs_lsh: catches template rewrites and
    boilerplate families whose wording overlaps even when no dense
    encoder ran.

    Weights are integer tf·idf: ``w = tf · (1000 div df)`` — idf as a
    closed-form integer reciprocal, so dot products and norms are EXACT
    BIGINTs in any engine (no float accumulation order to disagree on).
    The cosine itself divides by two IEEE sqrts of exact BIGINTs —
    correctly-rounded ops, bit-identical cross-engine (the q176/q187
    sqrt discipline).

    Scale shape (the All-Pairs discipline, shared with
    prefix_jaccard_join): terms with document frequency above
    ``df_cap_ppm`` of the corpus are dropped BEFORE the term self-join —
    stopword-class terms would otherwise contribute O(df²) candidate
    rows for near-zero idf weight. After the cap, candidate generation
    IS the dot-product aggregation: one equi-join on term + one
    partial-agg groupBy(a,b); norms are a doc-keyed dim joined in. No
    window, no collect, never corpus².
    """
    toks = docs.select(
        F.col("doc_id").alias("_id"),
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " ", -1),
                     lambda w: F.length(w) > 0)
        ).alias("term"),
    )
    tf = toks.groupBy("_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.select(
        F.countDistinct(F.col("doc_id")).alias("_n")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    kept = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * F.lit(1_000_000) <= F.col("_n") * df_cap_ppm)
        .select(
            "_id",
            "term",
            F.expr("tf * (1000L div df)").alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    norms = kept.groupBy("_id").agg(
        F.sum(F.expr("w * w")).alias("n2")
    )
    a = kept.select(F.col("_id").alias("a_id"), "term",
                    F.col("w").alias("wa"))
    b = kept.select(F.col("_id").alias("b_id"), "term",
                    F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.expr("wa * wb")).alias("dot"))
    )
    na = norms.select(F.col("_id").alias("a_id"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("_id").alias("b_id"), F.col("n2").alias("nb2"))
    out = (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.col("dot").cast("long").alias("dot"),
            F.floor(
                F.col("dot").cast("double") * F.lit(1_000_000.0)
                / (F.sqrt(F.col("na2").cast("double"))
                   * F.sqrt(F.col("nb2").cast("double")))
            ).cast("long").alias("cos_micros"),
        )
    )
    return out.filter(F.col("cos_micros") >= cos_threshold_micros)


def semantic_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.99,
    bits: int = 8,
) -> DataFrame:
    """(train_id, bench_id, sim): training documents whose embedding is
    near-identical to a BENCHMARK document — the semantic complement of
    q57's 13-gram decontamination (paraphrased/reformatted eval leakage
    has zero 13-gram overlap but cosine ≈ 1; modern release pipelines
    run both). For each contaminated training doc, the single best
    benchmark match survives (max over (sim, bench_id) — deterministic
    under ties).

    Scale shape: bipartite sign-LSH bucket equi-join (the
    embedding_near_dup_pairs_lsh discipline) — candidates are
    bucket-collisions between the two sets only, never train×bench;
    the benchmark side is typically small enough that Catalyst/AQE
    broadcasts it after bucketing. Exact cosine verification runs on
    candidates only, rounded to 4 decimals (the engine-parity grain the
    q24/q55 oracles pin).
    """
    tb = train.select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("_vt"),
        sign_lsh_bucket(F.col("embedding"), bits).alias("bucket"),
    )
    bb = bench.select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("_vb"),
        sign_lsh_bucket(F.col("embedding"), bits).alias("bucket"),
    )
    hits = (
        tb.join(bb, "bucket")
        .select(
            "train_id",
            "bench_id",
            F.round(cosine_col(F.col("_vt"), F.col("_vb")), 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    best = hits.groupBy("train_id").agg(
        F.max(F.struct("sim", "bench_id")).alias("_b")
    )
    return best.select(
        "train_id",
        F.col("_b.bench_id").alias("bench_id"),
        F.col("_b.sim").alias("sim"),
    )


def embedding_moments(emb: DataFrame, quant: int = 1000) -> DataFrame:
    """Exact corpus mean + covariance of the embedding matrix, as one
    (dim_i, dim_j) row per upper-triangle pair — the sufficient
    statistics behind embedding whitening / PCA projection that
    SemDeDup-style pipelines (Abbas et al. 2023) and IVF training run
    before clustering 10^12 vectors.

    Computed as a Gram-matrix tree-aggregation: ONE ``mapInPandas``
    pass quantizes each batch to integer millis (``floor(x * quant)``
    in float64 — exact for float32 inputs since quant·2^24 < 2^53) and
    emits the batch-local ``Xᵀ X`` (int64 numpy matmul), column sums
    and row count — D(D+1)/2 partial rows PER BATCH, never per doc.  A
    map-combined groupBy(i, j) then sums partials: the shuffle moves
    O(partitions · D²) rows regardless of corpus size, the exact
    pattern of MLlib's ``RowMatrix.computeGramianMatrix`` re-expressed
    DataFrame-native with driver-free integer determinism.

    Output: (i, j, n, sxy, sxi, sxj, cov_micros) with i <= j, where
    sxy = Σ xmᵢ·xmⱼ over quantized values and
    cov_micros = floor((n·sxy − sxi·sxj) / n²) — covariance in
    micro-units of the ORIGINAL scale when quant = 1000 (millis² =
    micros).  Every aggregation is int64 (decimal-free at test scale;
    swap the sums to decimal(38,0) at 10^12 rows); the single division
    happens once per output cell on exact integers, so DuckDB replays
    it bit-for-bit.  The eigen-solve on the returned D×D matrix is a
    driver-side numpy call on ~2 KB of data — deliberately NOT a Spark
    job (it is not data-sized).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("sxy", T.LongType()),
            T.StructField("sxi", T.LongType()),
            T.StructField("sxj", T.LongType()),
        ]
    )
    q = int(quant)

    def _partials(batches):
        for pdf in batches:
            vecs = pdf["_v"].tolist()
            if not vecs:
                continue
            x = np.asarray(vecs, dtype=np.float64)
            xm = np.floor(x * q).astype(np.int64)
            g = xm.T @ xm
            s = xm.sum(axis=0)
            n = np.int64(xm.shape[0])
            d = xm.shape[1]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "n": np.full(iu.shape, n, dtype=np.int64),
                    "sxy": g[iu, ju],
                    "sxi": s[iu],
                    "sxj": s[ju],
                }
            )

    parts = emb.select(F.col("embedding").alias("_v")).mapInPandas(
        _partials, schema=schema
    )
    tot = parts.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("sxy").alias("sxy"),
        F.sum("sxi").alias("sxi"),
        F.sum("sxj").alias("sxj"),
    )
    return tot.select(
        "i", "j", "n", "sxy", "sxi", "sxj",
        F.floor(
            (
                F.col("n") * F.col("sxy") - F.col("sxi") * F.col("sxj")
            ).cast("double")
            / (F.col("n") * F.col("n")).cast("double")
        ).cast("long").alias("cov_micros"),
    )

def jl_random_projection(
    emb: DataFrame,
    out_dim: int = 16,
    quant: int = 1000,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection of the embedding matrix
    to ``out_dim`` dimensions with a DETERMINISTIC ±1 sign matrix
    (Achlioptas 2003 database-friendly projections) — the standard
    pre-ANN shrink: 768-d vectors beaten down to 64-d before IVF/LSH
    cuts index size ~10× while JL guarantees pairwise distances are
    preserved within (1±ε) w.h.p.

    The sign matrix never materializes anywhere: entry (i, j) is
    ``+1 if (i·31 + j·17) mod 2 == 0 else −1`` — a pure formula both
    engines (and every executor, with no broadcast) recompute on the
    fly, so the projection is reproducible across runs AND statable as
    closed-form SQL. Inputs quantize to integer millis first (exact
    for float32 when quant·2^24 < 2^53); each projected coordinate is
    then an int64 dot product — no float summation order anywhere.

    One ``mapInPandas`` pass, one int64 numpy matmul per Arrow batch
    (never per row), output ``out_dim`` narrow rows per vector:
    (vec_id, j, pj, orig_ss, proj_ss, ratio_micros) where
    ``orig_ss = Σ xmᵢ²``, ``proj_ss = Σⱼ pⱼ²`` and
    ``ratio_micros = (proj_ss · 1e6) div (orig_ss · out_dim)`` — the
    per-vector norm-preservation audit (E[proj_ss] = out_dim·orig_ss
    for ±1 signs, so ratio ≈ 1e6). Embarrassingly parallel: zero
    shuffle, partitioning inherited from the scan — the plan shape
    survives 10^12 rows untouched.

    Reference parity: none — pure scale-path addition for the
    embedding pipeline (composes with ann_* and semdedup operators).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if out_dim <= 0:
        raise ValueError("out_dim must be positive")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("pj", T.LongType()),
            T.StructField("orig_ss", T.LongType()),
            T.StructField("proj_ss", T.LongType()),
            T.StructField("ratio_micros", T.LongType()),
        ]
    )
    q = int(quant)
    d_out = int(out_dim)

    def _project(batches):
        signs = None
        for pdf in batches:
            vecs = pdf["_v"].tolist()
            if not vecs:
                continue
            x = np.asarray(vecs, dtype=np.float64)
            xm = np.floor(x * q).astype(np.int64)
            d_in = xm.shape[1]
            if signs is None or signs.shape[0] != d_in:
                ii = np.arange(d_in)[:, None]
                jj = np.arange(d_out)[None, :]
                signs = 1 - 2 * ((ii * 31 + jj * 17) % 2)
                signs = signs.astype(np.int64)
            p = xm @ signs
            orig_ss = (xm * xm).sum(axis=1)
            proj_ss = (p * p).sum(axis=1)
            denom = np.maximum(orig_ss, 1) * d_out
            ratio = (proj_ss * 1_000_000) // denom
            n = xm.shape[0]
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, d_out),
                    "j": np.tile(np.arange(d_out, dtype=np.int32), n),
                    "pj": p.reshape(-1),
                    "orig_ss": np.repeat(orig_ss, d_out),
                    "proj_ss": np.repeat(proj_ss, d_out),
                    "ratio_micros": np.repeat(ratio, d_out),
                }
            )

    return emb.select(
        F.col("vec_id").cast("long").alias("_id"),
        F.col("embedding").alias("_v"),
    ).mapInPandas(_project, schema=schema)

def embedding_drift(
    emb: DataFrame,
    batch_col: str,
    quant: int = 1000,
    top_dims: int = 5,
) -> DataFrame:
    """Embedding-space drift between corpus batches (crawl snapshots,
    training runs): per batch the exact integer-milli mean vector, and
    per BATCH PAIR the squared L2 distance between means plus the
    ``top_dims`` highest-drift dimensions — the distribution-shift
    monitor run before mixing a new crawl into an embedding index or
    retraining a quality classifier on it (mean shift is the first
    moment of covariate shift; q219's moments give the second).

    All sums are exact int64 over quantized values (one map-combined
    groupBy — D rows per batch out), so means are exact rationals
    ``(sum, n)`` and every pairwise statistic is integer arithmetic on
    a batches×D table: mean_diff_milli(d) = sx_a·1e3 div n_a −
    sx_b·1e3 div n_b (milli-units of the original scale);
    dist_sq = Σ_d diff². Batch pairs are group-count-sized — broadcast
    territory. Output: (batch_a, batch_b, n_a, n_b, dist_sq_milli2,
    top_drift_dims array<int>).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("batch", T.StringType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("sx", T.LongType()),
        ]
    )
    q = int(quant)

    def _partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for b, grp in pdf.groupby("_b"):
                x = np.asarray(grp["_v"].tolist(), dtype=np.float64)
                xm = np.floor(x * q).astype(np.int64)
                s = xm.sum(axis=0)
                d = xm.shape[1]
                yield pd.DataFrame(
                    {
                        "batch": [str(b)] * d,
                        "dim": np.arange(d, dtype=np.int32),
                        "n": np.full(d, xm.shape[0], dtype=np.int64),
                        "sx": s,
                    }
                )

    parts = emb.select(
        F.col(batch_col).cast("string").alias("_b"),
        F.col("embedding").alias("_v"),
    ).mapInPandas(_partials, schema=schema)
    sums = parts.groupBy("batch", "dim").agg(
        F.sum("n").alias("n"), F.sum("sx").alias("sx")
    )
    a = sums.select(
        F.col("batch").alias("batch_a"),
        "dim",
        F.col("n").alias("n_a"),
        F.col("sx").alias("sx_a"),
    )
    b = sums.select(
        F.col("batch").alias("batch_b"),
        "dim",
        F.col("n").alias("n_b"),
        F.col("sx").alias("sx_b"),
    )
    pair = a.join(b, "dim").filter(F.col("batch_a") < F.col("batch_b"))
    # floor division that agrees across engines for NEGATIVE sums
    # (Spark div truncates, DuckDB // floors): adjust the numerator to
    # exact divisibility first — the grouped_ols idiom (stats.py).
    fd_a = "(sx_a * 1000 - ((sx_a * 1000 % n_a + n_a) % n_a)) div n_a"
    fd_b = "(sx_b * 1000 - ((sx_b * 1000 % n_b + n_b) % n_b)) div n_b"
    with_diff = pair.withColumn("_diff", F.expr(f"{fd_a} - {fd_b}"))
    agg = with_diff.groupBy("batch_a", "batch_b").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(F.col("_diff") * F.col("_diff")).alias("dist_sq_milli2"),
        F.slice(
            F.reverse(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.abs(F.col("_diff")).alias("a"),
                            (-F.col("dim")).alias("nd"),
                            F.col("dim").alias("d"),
                        )
                    )
                )
            ),
            1,
            top_dims,
        ).alias("_top"),
    )
    return agg.select(
        "batch_a",
        "batch_b",
        "n_a",
        "n_b",
        "dist_sq_milli2",
        F.transform(F.col("_top"), lambda s: s["d"]).alias(
            "top_drift_dims"
        ),
    )

def embedding_quality_audit(
    emb: DataFrame,
    quant: int = 1000,
    norm_bin_width: int = 1_000_000,
) -> DataFrame:
    """Embedding-table data-quality audit — the checks run before any
    vector lands in an index: NaN/Inf elements (a broken encoder batch
    poisons every cosine it touches), all-zero vectors (cosine
    undefined — the classic silent failure), dimension consistency
    (ragged arrays crash batched matmuls), and the norm HISTOGRAM
    (bimodal norms = two encoder versions mixed).

    One codegen pass per row (higher-order array exprs, no Python):
    flags + quantized squared norm; ONE partial-agg groupBy per
    histogram bin. Output: one row per (dim, norm_bin) cell with the
    corpus-level counts repeated (n_vectors, n_nonfinite, n_zero) —
    value-determined bins, exact integers, strict-oracle-safe.
    """
    v = F.col("embedding")
    xm = F.transform(
        v, lambda x: F.floor(x.cast("double") * quant).cast("long")
    )
    n_nonfinite = F.size(
        F.filter(
            v, lambda x: F.isnan(x.cast("double"))
            | (F.abs(x.cast("double")) > F.lit(1e300))
        )
    )
    ss = F.aggregate(
        xm, F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    rows = emb.select(
        F.size(v).alias("dim"),
        n_nonfinite.alias("_nf"),
        ss.alias("_ss"),
    )
    per = rows.select(
        "dim",
        (F.col("_nf") > 0).cast("int").alias("_bad"),
        (F.col("_ss") == 0).cast("int").alias("_zero"),
        F.expr(f"_ss div {int(norm_bin_width)}").alias("norm_bin"),
    )
    cells = per.groupBy("dim", "norm_bin").agg(
        F.count("*").cast("bigint").alias("n_in_bin"),
        F.sum("_bad").cast("bigint").alias("n_nonfinite_in_bin"),
        F.sum("_zero").cast("bigint").alias("n_zero_in_bin"),
    )
    tot = per.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum("_bad").cast("bigint").alias("n_nonfinite"),
        F.sum("_zero").cast("bigint").alias("n_zero"),
    ).withColumn("_one", F.lit(1))
    return (
        cells.withColumn("_one", F.lit(1))
        .join(F.broadcast(tot), "_one")
        .select(
            "dim", "norm_bin", "n_in_bin", "n_nonfinite_in_bin",
            "n_zero_in_bin", "n_vectors", "n_nonfinite", "n_zero",
        )
    )


def int8_quantization_audit(embs: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization with reconstruction-error
    audit — the compression every serving-scale vector index applies
    (FAISS SQ8 / scalar quantization), and the error report that
    decides whether it is safe for a given corpus: ``(id, dim,
    scale_micros, max_abs_err_micros, mse_micros)``.

    scale = max|x| / 127; q_i = clamp(floor(x_i/scale + 0.5), ±127);
    err = q*scale - x. Zero vectors quantize losslessly (scale 0 →
    all zeros). 4x memory saved vs f32; the audit columns are what
    you check against the ANN recall budget (q184) before flipping an
    index to SQ8.

    Determinism: every expression is the same left-to-right array
    fold in both engines (higher-order transform/aggregate here,
    list_transform/list_sum in the oracle), floats widen exactly to
    doubles, and floor(x + 0.5) half-rounding is engine-independent —
    so the micros columns hash-match. Pure array codegen; zero
    shuffle, zero Python."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x / scale + 0.5)
                    .cast("double")),
        ),
    )
    err = F.zip_with(q, v, lambda a, b: a * scale - b)
    abs_err = F.transform(err, F.abs)
    dim = F.size(v)
    mse = (
        F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e * e)
        / dim.cast("double")
    )
    zero = F.lit(0).cast("bigint")
    is_zero = scale == 0.0
    return embs.select(
        F.col("vec_id"),
        dim.cast("int").alias("dim"),
        F.when(is_zero, zero)
        .otherwise(F.floor(F.lit(1e6) * scale)).cast("bigint")
        .alias("scale_micros"),
        F.when(is_zero, zero)
        .otherwise(F.floor(F.lit(1e6) * F.array_max(abs_err)))
        .cast("bigint").alias("max_abs_err_micros"),
        F.when(is_zero, zero)
        .otherwise(F.floor(F.lit(1e6) * mse)).cast("bigint")
        .alias("mse_micros"),
    )
