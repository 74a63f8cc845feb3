"""SemDeDup — semantic deduplication via k-means clustering (Abbas et
al. 2023, "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication").

Beyond-reference capability (task brief: LLM-data-pipeline operators).
The published recipe: embed every document, k-means-cluster the
embeddings, and — WITHIN each cluster only — drop all but one member
of every group of near-identical vectors (cosine above a threshold).
The clustering is what makes web scale feasible: candidate pairs are
confined to a cluster, so the quadratic blow-up is bounded by the
cluster size (production runs pick k ≈ √n so E[cluster] ≈ √n), and the
pair generation is a plain equi-join on the cluster id — never a
corpus cross join.

Spark shape:

- clustering reuses :mod:`.kmeans`'s deterministic integer-micros
  Lloyd training (broadcast-argmin assignment, zero corpus shuffle);
- within-cluster pairs come from a self-equi-join on ``cid`` with
  ``a_id < b_id``;
- cosine is computed EXACTLY up to IEEE rounding: the dot product and
  both squared norms are BIGINT sums over integer-micros vectors
  (exact), and the final ``dot / (sqrt(n2a)·sqrt(n2b))`` is three
  correctly-rounded IEEE double ops — bit-identical across engines, so
  the threshold compare needs no quantization slop;
- keep rule is deterministic keep-min-id: a vector is dropped iff some
  SAME-CLUSTER vector with a smaller id is within the threshold. No
  transitive closure (matches the paper: one survivor per duplicate
  group under a fixed ordering — we order by id).

Output floats never leave the plan: the report carries the max
observed cosine floored to integer micros.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .kmeans import _assign, kmeans_fit


def _bsum(pairwise):
    """Exact BIGINT sum of an array<long> elementwise product."""
    return F.aggregate(
        pairwise, F.lit(0).cast("long"), lambda s, x: s + x
    )


def semdedup(
    emb: DataFrame,
    k=8,
    iters: int = 2,
    tau: float = 0.99,
) -> DataFrame:
    """(vec_id, cid, keep, n_dup_smaller, max_cos_micros): SemDeDup over
    an embedding table. ``keep`` is false iff a same-cluster vector with
    a smaller id has cosine ≥ ``tau``; ``n_dup_smaller`` counts those
    witnesses; ``max_cos_micros`` is floor(1e6·max cosine) over them
    (NULL for kept rows).

    ``k``: cluster count. Pass ``"auto"`` to apply the SemDeDup paper's
    k ∝ N rule (cluster size ≈ 256, floor 8) — the within-cluster pair
    term is Θ(N²/k), so FIXED k turns 10× rows into ~100× pair work
    (measured in BENCH_sf1.md: k=8 at 10× rows = ×22.5 wall, k scaled
    ×10 = ×8.7, linear). ``"auto"`` costs one count() action up front;
    at 10^12 rows pass the known row count as an explicit int instead.
    Default stays 8 for oracle replayability at test SFs. Any other ``k``
    raises ``TypeError`` before a Spark action runs."""
    if k != "auto" and (not isinstance(k, int) or isinstance(k, bool)):
        raise TypeError(f"semdedup: k must be an int or 'auto', got {k!r}")
    if k == "auto":
        k = max(8, emb.count() // 256)
    base, cents = kmeans_fit(emb, k=int(k), iters=iters)
    # the assignment feeds three consumers (both join sides + the final
    # report) — persist so training runs once; at 10^12 rows this is
    # "write the assignment to a cid-bucketed table", after which the
    # self-join below is co-located and shuffle-free
    assigned = _assign(base, cents).select("vec_id", "v", "cid").persist()

    a = assigned.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("va"), "cid"
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), "cid"
    )
    dot = _bsum(F.zip_with("va", "vb", lambda x, y: x * y))
    n2a = _bsum(F.zip_with("va", "va", lambda x, y: x * y))
    n2b = _bsum(F.zip_with("vb", "vb", lambda x, y: x * y))
    cos = dot.cast("double") / (
        F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double"))
    )
    dup_pairs = (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("b_id", cos.alias("_cos"))
        .filter(F.col("_cos") >= F.lit(tau))
    )
    witnesses = dup_pairs.groupBy("b_id").agg(
        F.count("*").alias("n_dup_smaller"),
        F.floor(F.lit(1e6) * F.max("_cos")).cast("long")
        .alias("max_cos_micros"),
    )
    return (
        assigned.join(
            witnesses, assigned["vec_id"] == witnesses["b_id"], "left"
        )
        .select(
            "vec_id",
            "cid",
            F.col("n_dup_smaller").isNull().alias("keep"),
            F.coalesce("n_dup_smaller", F.lit(0).cast("long"))
            .alias("n_dup_smaller"),
            "max_cos_micros",
        )
    )
