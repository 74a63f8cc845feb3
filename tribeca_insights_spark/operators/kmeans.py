"""Deterministic Lloyd k-means over embedding columns — IVF training.

Beyond-reference capability (task brief): the similarity module's IVF
index (similarity.py ann_ivf) needs a coarse quantizer; production
systems train it with a few Lloyd iterations over a corpus sample. This
implements that training step Spark-first and ENGINE-EXACTLY:

- vectors quantized to integer micros (floor(x·1e6)) so every distance
  and every centroid mean is exact 64-bit integer arithmetic —
  aggregation-order-free, reproducible across engines (the strict
  DuckDB oracle states both Lloyd rounds closed-form);
- seeds picked by md5-rank (TakeOrderedAndProject top-k, not a global
  sort) — deterministic without RNG state;
- ASSIGNMENT is zero-shuffle: the k centroids ride along as ONE
  broadcast row holding an array of (cid, vector) structs, and each doc
  computes argmin via ``array_min`` over nested higher-order lambdas —
  a narrow map over the scan, never a shuffle of the corpus;
- UPDATE is one partial-agg shuffle of k × d running sums per
  iteration: per-dimension ``sum(element_at(v, i))`` columns (static d,
  so map-side combine applies), then truncating integer division by the
  cluster count (Spark ``div`` ≡ DuckDB ``//``: both truncate toward
  zero — verified, the floor/trunc trap is real for negative sums).

Per-iteration cost at 10^12 rows: one broadcast of k·d longs + one
shuffle of (partitions × k × d) partial sums. Nothing corpus-sized
moves after the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MICROS = 1_000_000


def to_micros(vec_col):
    """array<float> → array<long> integer-micros quantization:
    floor(double(x)·1e6). The float→double cast happens BEFORE the
    multiply, explicitly — engines disagree on implicit float32
    promotion order, and a widen-after-multiply loses mantissa bits
    differently (DuckDB equivalent:
    list_transform(v, x -> floor(CAST(x AS DOUBLE) * 1000000)))."""
    return F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * MICROS).cast("long")
    )


def _dist2(v, c):
    """Exact squared L2 between two array<long> columns (BIGINT-safe for
    |x| ≤ ~5e8 at d ≤ 64)."""
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda s, d: s + d,
    )


def _seed_cids(seeds: DataFrame, id_col: str) -> DataFrame:
    """cid by md5 order over the (tiny, k-row) seed set. Window-free:
    the k rows pack into ONE sorted struct array and posexplode back
    out with their position as the cid — same result as a row_number
    window, but the plan never contains a WindowExec (an unpartitioned
    window, even over k rows post-limit, logs Spark's single-partition
    WARN and trips plan audits)."""
    packed = seeds.agg(
        F.sort_array(
            F.collect_list(F.struct("_rk", F.col(id_col).alias("_id"), "v"))
        ).alias("_s")
    )
    return packed.select(F.posexplode("_s").alias("_pos", "_st")).select(
        F.col("_pos").cast("long").alias("cid"),
        F.col("_st.v").alias("c"),
    )


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cid, dist2): zero-shuffle argmin assignment — the
    centroid set travels as one broadcast row; ties break on cid via
    lexicographic struct comparison."""
    packed = cents.agg(
        F.sort_array(
            F.collect_list(F.struct("cid", "c"))
        ).alias("_cents")
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda s: F.struct(
                _dist2(F.col("v"), s["c"]).alias("dist2"),
                s["cid"].alias("cid"),
            ),
        )
    )
    return (
        emb.crossJoin(F.broadcast(packed))
        .withColumn("_best", best)
        .select(
            "vec_id", "v",
            F.col("_best.cid").alias("cid"),
            F.col("_best.dist2").alias("dist2"),
        )
    )


def _update(assigned: DataFrame, dim: int) -> DataFrame:
    """(cid, c): new centroids = per-dimension truncating-integer mean.
    Static per-dim sum columns keep the aggregation partial (map-side
    combine); empty clusters simply vanish (standard Lloyd drop)."""
    sums = assigned.groupBy("cid").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.element_at("v", i + 1)).alias(f"_s{i}")
            for i in range(dim)
        ],
    )
    return sums.select(
        "cid",
        F.array(
            *[F.expr(f"_s{i} div _n").cast("long") for i in range(dim)]
        ).alias("c"),
    )


def kmeans_fit(emb: DataFrame, k: int = 4, iters: int = 2) -> tuple[DataFrame, DataFrame]:
    """(base, centroids): run ``iters`` Lloyd rounds from md5-rank seeds.
    ``base`` is the integer-micros projection (vec_id, v); ``centroids``
    is (cid, c). All arithmetic integer-micros exact; no actions inside
    the loop — the whole training is ONE lazy plan (per-round lineage is
    shallow: iters is small by contract, 1-5 rounds train an IVF
    quantizer)."""
    base = emb.select(
        F.col("vec_id"), to_micros(F.col("embedding")).alias("v")
    )
    dim = _infer_dim(emb, "embedding")
    cents = _seed_cids(
        base.select(
            "vec_id", "v", F.md5(F.col("vec_id").cast("string")).alias("_rk")
        ).orderBy("_rk", "vec_id").limit(k),
        "vec_id",
    )
    for _ in range(iters):
        cents = _update(_assign(base, cents), dim)
    return base, cents


def kmeans_assign(emb: DataFrame, k: int = 4, iters: int = 2) -> DataFrame:
    """Train via :func:`kmeans_fit`, then return the final assignment
    (vec_id, cid, dist2) against the trained centroids."""
    base, cents = kmeans_fit(emb, k=k, iters=iters)
    return _assign(base, cents).select("vec_id", "cid", "dist2")


def ann_ivf_trained_topk(emb: DataFrame, query_ids, k: int = 5,
                         n_cells: int = 4, iters: int = 2,
                         n_probe: int = 2) -> DataFrame:
    """(query_id, neighbor_id, rank, dist2): IVF ANN whose coarse
    quantizer is the TRAINED deterministic Lloyd k-means above — the
    fully oracle-able counterpart of similarity.ann_ivf_topk (whose
    MLlib quantizer can't be expressed in SQL; this one is replayed
    closed-form by the q113 oracle, training included).

    Search shape at 10^12 rows: corpus assigned once (zero-shuffle
    broadcast map, table stored bucketed by cell); each query probes its
    ``n_probe`` nearest cells (|queries| × k_cells tiny cross join);
    candidates come from the cell equi-join (≈ n·n_probe/k_cells of the
    corpus), ranked by exact integer squared-L2. Never all-pairs."""
    from pyspark.sql import Window

    base, cents = kmeans_fit(emb, k=n_cells, iters=iters)
    # the trained centroid set (k rows) feeds both the corpus assignment
    # and the query probes — persist it so training runs once, not once
    # per consumer; k·d longs, negligible at any scale
    cents = cents.persist()
    assigned = _assign(base, cents)
    q = assigned.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "qv", "cid",
        _dist2(F.col("qv"), F.col("c")).alias("cd2"),
    )
    wq = Window.partitionBy("query_id").orderBy("cd2", "cid")
    probes = (
        qc.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "qv", "cid")
    )
    cands = assigned.join(F.broadcast(probes), "cid").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _dist2(F.col("qv"), F.col("v")).alias("dist2"),
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist2")
    )


def pq_codes(emb: DataFrame, m: int = 4, k: int = 4, iters: int = 1) -> DataFrame:
    """(vec_id, codes, recon_err): product-quantization codes — the
    vector-compression step production ANN indexes (IVF-PQ) run after
    the coarse quantizer. The d-dim vector splits into ``m`` contiguous
    subvectors; each subspace trains its OWN ``k``-centroid codebook
    (deterministic Lloyd, integer-micros exact — the q112 machinery on
    a slice), and the code word is the per-subspace argmin centroid id.
    ``recon_err`` is the summed exact squared-L2 quantization error.

    Scale shape: each subspace training is the kmeans_fit plan (zero-
    shuffle broadcast assignment + one k×(d/m) partial-agg shuffle per
    iteration); the m per-subspace assignments are slim (vec_id, sub,
    cid, d2) rows UNIONED then pivoted by ONE groupBy(vec_id) — a
    single corpus-sized shuffle regardless of m, never m self-joins.
    A 64-dim float vector (256 bytes) compresses to m codebook bytes —
    at 10^12 vectors that is the difference between an index that fits
    the cluster and one that doesn't.
    """
    dim = _infer_dim(emb, "embedding")
    if m <= 0 or dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    sub = dim // m
    parts = []
    for s in range(m):
        sl = emb.select(
            F.col("vec_id"),
            F.slice(F.col("embedding"), s * sub + 1, sub).alias("embedding"),
        )
        base, cents = kmeans_fit(sl, k=k, iters=iters)
        parts.append(
            _assign(base, cents).select(
                "vec_id",
                F.lit(s).cast("long").alias("sub"),
                "cid",
                "dist2",
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("vec_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub", "cid"))),
                lambda st: st["cid"],
            ).alias("codes"),
            F.sum("dist2").alias("recon_err"),
        )
    )


def _infer_dim(emb: DataFrame, vec_col: str) -> int:
    """Vector width from the first row — a bounded single-row action,
    run once before the lazy training plan is built."""
    row = emb.select(F.size(vec_col).alias("d")).head(1)
    if not row:
        raise ValueError("empty embedding table")
    return int(row[0]["d"])


def embedding_outliers(vecs: DataFrame, topk: int = 5) -> DataFrame:
    """Per-group embedding OUTLIERS: the ``topk`` vectors farthest from
    their own group's centroid — (label, vec_id, dist2, rank).

    The third leg of embedding-space curation next to SemDeDup (too
    close ⇒ redundant) and ANN retrieval: too FAR from every mass
    center ⇒ mislabeled, off-topic, or encoder garbage. Used exactly
    this way in practice to audit cluster assignments before IVF
    training and to drop encoder failures before dedup.

    All integer-micros exact (``to_micros`` / floor-div centroids), so
    ranks are replay-stable and oracle-stateable:

    - posexplode to (label, dim, value-micros) — the one row-count·d
      expansion, map-only;
    - centroid = per-(label, dim) SUM div COUNT floor division (one
      partial agg; output is groups×d rows, broadcast back);
    - dist2 = Σ_dim (v−c)² via the same (label, dim) join + a
      vec-keyed partial agg — no arrays shuffle, only slim triples;
    - top-k farthest per label via a window PARTITIONED BY LABEL
      (group-sized, never global), ties on vec_id ascending.
    """
    from pyspark.sql import Window

    ex = vecs.select(
        F.col("vec_id"),
        F.col("label"),
        F.posexplode(to_micros(F.col("embedding"))).alias("dim", "x"),
    )
    # floor-division centroid with the pmod adjustment: sums of micros
    # go NEGATIVE (embeddings are signed), where Spark's `div` truncates
    # toward zero but an oracle's `//` floors — the adjusted numerator
    # is exactly divisible, so both semantics agree (stats.grouped_ols
    # discipline).
    cent = ex.groupBy("label", "dim").agg(
        F.expr(
            "(sum(x) - ((sum(x) % count(*) + count(*)) % count(*)))"
            " div count(*)"
        ).alias("c")
    )
    d2 = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
            .alias("dist2")
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("dist2"), F.asc("vec_id")
    )
    return (
        d2.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("label", "vec_id",
                F.col("dist2").cast("bigint").alias("dist2"),
                F.col("rank").cast("int").alias("rank"))
    )


def kcenter_greedy(emb: DataFrame, k: int = 4, start_id: int = 0) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    traversal — the 2-approximation): repeatedly add the point FARTHEST
    from the chosen set. The diversity-sampling primitive behind
    coreset-based data selection (Sener & Savarese 2018 active
    learning; diverse prompt/document subset picks): k-means picks
    DENSE regions, k-center guarantees COVERAGE — every point ends
    within the returned radius of some center.

    Determinism: integer-micros quantization (:func:`to_micros`) and
    exact BIGINT squared L2 (:func:`_dist2`), argmax ties broken by
    smaller id — the oracle replays each round bit-for-bit.

    Shape per round: ONE narrow aggregation over the corpus —
    ``max(struct(min_dist2, -id))`` (partial-agg combinable, no window,
    no sort); the running min-distance column updates by comparison
    against the newly selected center (broadcast as literals — centers
    are k rows by construction). k bounded driver actions total, the
    q50 loop discipline; at 10^12 rows each round is one scan+agg, and
    the standard refinement (localCheckpoint the min-dist column every
    few rounds) composes. Output: (sel_round, center_id,
    radius_sq_micros2) — the selected centers with the coverage radius²
    AT selection time (round 0's radius is NULL: nothing selected yet).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    pts = emb.select(
        F.col("vec_id").cast("long").alias("_id"),
        to_micros(F.col("embedding")).alias("_v"),
    )
    first = pts.filter(F.col("_id") == start_id).select("_v").head()
    if first is None:
        raise ValueError(f"start_id {start_id} not found")
    centers = [(0, int(start_id), None)]
    center_vec = [int(x) for x in first["_v"]]

    def lit_vec(vals):
        return F.array(*[F.lit(int(v)).cast("long") for v in vals])

    cur = pts.select(
        "_id", "_v", _dist2(F.col("_v"), lit_vec(center_vec)).alias("_d")
    )
    for rnd in range(1, k):
        far = cur.agg(
            F.max(F.struct(F.col("_d"), (-F.col("_id")).alias("_n")))
            .alias("m")
        ).head()["m"]
        next_id = -far["_n"]
        radius = far["_d"]
        centers.append((rnd, int(next_id), int(radius)))
        nxt = pts.filter(F.col("_id") == next_id).select("_v").head()
        nxt_vec = [int(x) for x in nxt["_v"]]
        cur = cur.select(
            "_id",
            "_v",
            F.least(
                F.col("_d"), _dist2(F.col("_v"), lit_vec(nxt_vec))
            ).alias("_d"),
        )
    spark = emb.sparkSession
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("sel_round", T.IntegerType(), False),
            T.StructField("center_id", T.LongType(), False),
            T.StructField("radius_sq_micros2", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(centers, schema)
