"""Deterministic HyperLogLog — engine-exact cardinality sketching.

Beyond-reference capability (task brief: LLM-data-pipeline operators).
At 10^12 documents "how many distinct tokens / urls / hosts" cannot be
answered with a distinct() (the distinct IS a corpus-sized shuffle);
production pipelines carry an HLL sketch instead. Spark's built-in
``approx_count_distinct`` is HLL++ but its register hashing is engine-
private — un-oracle-able. This implementation is Flajolet et al.'s
plain HLL over an md5-derived 64-bit hash, built so EVERY intermediate
is exact integer arithmetic that DuckDB replays bit-for-bit:

- hash: first 16 hex chars of md5(key) as a 64-bit value (computed as
  two 32-bit halves — both engines parse 8-hex safely in signed 64);
- register = top ``p`` bits; rho = leading-zero count of the remaining
  ``64 - p`` bits + 1 (pure integer comparisons via power-of-two
  thresholds);
- the register table (register, max_rho) IS the sketch — a groupBy of
  m = 2^p rows, mergeable across shards/runs by max() (the property
  that makes HLL the production answer: union = element-wise max);
- the estimate's harmonic sum Σ 2^(-rho) is kept EXACT in units of
  2^-61 as a 96-bit value split across two BIGINT halves (see
  :func:`hll_estimate` — the single-BIGINT form can overflow at
  m·2^60). Only the final alpha·m²/S division is floating point,
  computed once from exact integers, then micro-quantized.

Scale shape: one map-combined groupBy of (register) — m-row output —
after a narrow per-row hash projection. Zero corpus-sized state; the
sketch unions across 10^5 shards by a second m-row max-groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _hash64_hi_lo(key):
    """(hi, lo): the first 16 md5 hex chars as two unsigned 32-bit
    halves in BIGINTs — identical construction in DuckDB:
    ('0x' || substr(md5(k), 1, 8))::BIGINT etc."""
    hx = F.md5(key.cast("string"))
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return hi, lo


def hll_registers(df: DataFrame, key_col: str, p: int = 6) -> DataFrame:
    """(register, max_rho): the HLL sketch of ``key_col``'s distinct
    cardinality with m = 2^p registers.

    register = top p bits of the 64-bit hash (from the hi half);
    rho = leading zeros of the remaining 64-p bits + 1, scanning the
    rest of hi then all of lo; an all-zero remainder gets the
    conventional rho = 64 - p + 1. Registers never hit stay absent
    (callers treat missing as rho 0 — :func:`hll_estimate` densifies).
    """
    if not 4 <= p <= 14:
        raise ValueError("p must be in [4, 14]")
    df = df.filter(F.col(key_col).isNotNull())  # md5(NULL) would poison
    hi, lo = _hash64_hi_lo(F.col(key_col))      # a register with NULLs

    # top p bits of hi (hi is 32 bits)
    reg = F.floor(hi / F.lit(1 << (32 - p))).cast("long")
    # remaining bits: low (32 - p) of hi, then all 32 of lo, as one
    # 64-p bit integer
    rem = (hi % F.lit(1 << (32 - p))) * F.lit(1 << 32) + lo
    width = 64 - p
    # leading zeros via the position of the highest set bit:
    # rem >= 2^(width-1-z) ⟺ at most z leading zeros. floor(log2) is
    # float-unsafe; use exact integer halving: nlz = width - bits(rem)
    # where bits(x) = number of times x halves to 0 — expressed as a
    # sum of comparisons against powers of two (static, width terms).
    bits = sum(
        (rem >= F.lit(1 << i)).cast("int") for i in range(width)
    )
    rho = (F.lit(width) - bits + 1).cast("long")
    return (
        df.select(reg.alias("register"), rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union HLL sketches: element-wise max over registers — the m-row
    groupBy that makes cross-shard / cross-run cardinality free."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("register").agg(
        F.max("max_rho").alias("max_rho")
    )


def hll_estimate(sketch: DataFrame, p: int = 6) -> DataFrame:
    """One row (m, n_registers_hit, harmonic_hi, harmonic_lo,
    estimate_micros): the raw HLL estimate of a (register, max_rho)
    sketch table (see :func:`_hll_reduce`)."""
    return _hll_reduce(sketch, p, (), "estimate_micros").select(
        F.lit(1 << p).cast("long").alias("m"), "*"
    )


def _hll_reduce(sketch: DataFrame, p: int, keys, out: str) -> DataFrame:
    """``keys`` + (n_registers_hit, harmonic_hi, harmonic_lo, ``out``)
    per group of a (``keys``, register, max_rho) sketch table: the raw
    HLL estimate alpha_m · m² / Σ 2^(-rho_j) with empty registers
    contributing 2^0. No keys reduces the whole table to one row.

    The harmonic sum is kept EXACT in units of 2^-61 as a 96-bit value
    split across two BIGINTs (Σ can reach m·2^60 > int64):
    ``harmonic_hi`` = Σ 2^(29 - rho) over rho ≤ 29 and ``harmonic_lo``
    = Σ 2^(61 - rho) over rho ≥ 30, i.e. S = hi·2^32 + lo — both halves
    bounded by m·2^28 / m·2^31, overflow-free to p = 14. Only the final
    division touches floats: the numerator is one double literal and
    the denominator recombines three exact integers with the identical
    expression shape on both engines (each step one correctly-rounded
    IEEE op). No small/large-range corrections — raw estimate, stated
    as such (both engines apply none, so parity is exact).
    """
    m = 1 << p
    # python-API shiftleft wants a literal bit count; the SQL form
    # takes a column exponent
    agg = sketch.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_registers_hit"),
        F.sum(
            F.expr(
                "CASE WHEN max_rho <= 29 THEN"
                " shiftleft(cast(1 as bigint), cast(29 - max_rho as int))"
                " ELSE cast(0 as bigint) END"
            )
        ).alias("harmonic_hi"),
        F.sum(
            F.expr(
                "CASE WHEN max_rho >= 30 THEN"
                " shiftleft(cast(1 as bigint), cast(61 - max_rho as int))"
                " ELSE cast(0 as bigint) END"
            )
        ).alias("harmonic_lo"),
    )
    denom = (
        F.col("harmonic_hi").cast("double") * F.lit(float(1 << 32))
        + F.col("harmonic_lo").cast("double")
        + (F.lit(m) - F.col("n_registers_hit")).cast("double")
        * F.lit(float(1 << 61))
    )
    return agg.select(
        *keys,
        "n_registers_hit",
        "harmonic_hi",
        "harmonic_lo",
        F.floor(F.lit(1e6 * _alpha(m) * m * m * float(1 << 61)) / denom)
        .cast("long").alias(out),
    )


def _cms_col(key, row: int, width: int):
    """Row-``row``'s column for ``key``: first 8 md5 hex chars of
    'row:key' mod width — an independent hash per row, the same
    construction DuckDB replays."""
    hx = F.md5(F.concat(F.lit(f"{row}:"), key.cast("string")))
    return F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % width


def cms_build(df: DataFrame, key_col: str, depth: int = 4,
              width: int = 64) -> DataFrame:
    """(row, col, cnt): a count-min sketch of ``key_col``'s frequency
    distribution — d·w counters replace an unbounded-cardinality exact
    frequency table (the heavy-hitter / frequency-estimation companion
    to :func:`hll_registers`).

    Each occurrence increments one counter per row (col = an
    independent md5-derived hash of the key); a point estimate is the
    MIN over the d counters — never an underestimate, overestimates
    bounded by collisions (ε ≈ e/width of the stream length at the
    standard analysis). Plan: the d per-row cells ride one posexplode
    (rows ×d locally, no corpus shuffle added), then ONE map-combined
    groupBy of at most d·w output rows. Sketches merge across shards
    by cell-wise sum — like HLL's max-merge, union is free.
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    df = df.filter(F.col(key_col).isNotNull())
    cells = F.array(*[
        _cms_col(F.col(key_col), r, width) for r in range(depth)
    ])
    return (
        df.select(F.posexplode(cells).alias("row", "col"))
        .groupBy("row", "col")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("row").cast("long").alias("row"), "col", "cnt")
    )


def cms_point_estimates(cms: DataFrame, probes: DataFrame,
                        depth: int = 4,
                        width: int = 64) -> DataFrame:
    """(key, est_count): count-min point queries — min over each row's
    counter at the key's column. The probe set is a dim (broadcast);
    the sketch is d·w rows, so the whole lookup is sketch-sized. A
    probe key whose cells were never incremented estimates 0 (absent
    cells are zero by construction)."""
    cells = F.array(*[
        _cms_col(F.col("key"), r, width) for r in range(depth)
    ])
    want = probes.select(
        F.col("key"), F.posexplode(cells).alias("row", "col")
    ).select("key", F.col("row").cast("long").alias("row"), "col")
    hit = want.join(cms, ["row", "col"], "left").select(
        "key", F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("c")
    )
    return hit.groupBy("key").agg(F.min("c").alias("est_count"))


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_intersection_estimate(sk_a: DataFrame, sk_b: DataFrame,
                              p: int = 6) -> DataFrame:
    """One row (est_a_micros, est_b_micros, est_union_micros,
    est_intersection_micros): overlap between two key sets by
    inclusion–exclusion over three raw HLL estimates — |A∩B| ≈
    est(A) + est(B) − est(A∪B), where the union estimate comes from
    the register max-merge (hll_merge), NEVER from rescanning either
    side. This is how two crawl snapshots' vocabularies (or two runs'
    URL sets) are compared at 10^12 scale: three m-row sketches move,
    zero data joins. The estimate is signed — sketch noise can push a
    near-empty intersection below zero, and reporting that honestly
    beats clamping (the caller sees the error bar hit its floor).
    """
    ea = hll_estimate(sk_a, p).select(
        F.col("estimate_micros").alias("est_a_micros")
    )
    eb = hll_estimate(sk_b, p).select(
        F.col("estimate_micros").alias("est_b_micros")
    )
    eu = hll_estimate(hll_merge(sk_a, sk_b), p).select(
        F.col("estimate_micros").alias("est_union_micros")
    )
    return (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .select(
            "est_a_micros",
            "est_b_micros",
            "est_union_micros",
            (
                F.col("est_a_micros") + F.col("est_b_micros")
                - F.col("est_union_micros")
            ).alias("est_intersection_micros"),
        )
    )


def bottomk_sketch(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 32,
) -> DataFrame:
    """Per-group bottom-k (KMV) distinct-value sketch: the ``k``
    smallest md5-derived 32-bit hash values of the DISTINCT keys in
    each group (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07).  KMV
    is the sketch family HLL does not replace: besides cardinality it
    supports Jaccard/overlap estimation between groups (compare the
    bottom-k sets directly) and uniform distinct-sampling (the k
    surviving keys ARE a uniform sample of the distinct values).

    Output: (group, rank, h) — rank 1..k ascending by hash.  The hash
    is the hi-32 of md5 (same construction as :func:`hll_registers`,
    DuckDB-replayable).  Ties are impossible WITHIN a group after the
    distinct (same key → same hash dedup'd; distinct keys colliding on
    32 bits is ~n²/2³³ — acceptable for a sketch, and deterministic
    either way since equal hashes dedup to one row).

    Scale shape: dedup of (group, key) is one map-combined groupBy;
    the bottom-k is a window row_number PARTITIONED by group (a
    per-group sort of the group's distinct hashes — never global).
    For groups with 10^9+ distinct keys, pre-filter with a constant
    hash threshold (h < k · 2³² / n_lower_bound) before the window so
    the sorted set is ~k-sized; the threshold prune is a plain filter
    and keeps the result EXACT as long as it keeps ≥ k rows per group.
    """
    hx = F.md5(F.col(key_col).cast("string"))
    hashed = (
        df.select(
            F.col(group_col).alias("grp"),
            F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("h"),
        )
        .distinct()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("h")
    return (
        hashed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("grp", "rank", "h")
    )


def bottomk_merge(k: int, *sketches: DataFrame) -> DataFrame:
    """Union per-shard bottom-k sketches into the bottom-k of the
    union: dedup hashes, re-rank, keep k.  This IS the KMV merge
    property — sketch(A ∪ B) = bottomk(sketch(A) ∪ sketch(B)) — which
    makes per-shard sketches composable without rescanning shards
    (the HLL-merge counterpart for the KMV family; q220's oracle
    states the equality closed-form and a pytest asserts it row-wise
    against the direct single-pass sketch).
    """
    from functools import reduce

    from pyspark.sql import Window

    u = reduce(
        lambda a, b: a.unionByName(b),
        [s.select("grp", "h") for s in sketches],
    ).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    return (
        u.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("grp", "rank", "h")
    )


def bottomk_estimate(sketch: DataFrame, k: int = 32) -> DataFrame:
    """(grp, n_in_sketch, kth_hash, est_distinct): KMV cardinality
    estimate (k−1)/kth-normalized-hash = (k−1)·2³² div kth_hash —
    exact integer arithmetic, DuckDB-replayable.  Groups with fewer
    than k distinct keys are EXACT (the sketch holds all hashes;
    estimate = n_in_sketch).
    """
    agg = sketch.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_in_sketch"),
        F.max(F.when(F.col("rank") == k, F.col("h"))).alias("kth_hash"),
    )
    return agg.select(
        "grp",
        "n_in_sketch",
        F.coalesce("kth_hash", F.lit(0)).cast("long").alias("kth_hash"),
        F.when(
            F.col("kth_hash").isNull() | (F.col("kth_hash") == 0),
            F.col("n_in_sketch"),
        )
        .otherwise(
            F.expr(f"({k} - 1) * 4294967296L div kth_hash")
        )
        .cast("long")
        .alias("est_distinct"),
    )

def bottomk_jaccard(sketch: DataFrame, k: int = 32) -> DataFrame:
    """Pairwise Jaccard similarity between ALL groups, estimated from
    their bottom-k (KMV) sketches — the reason to keep KMV around next
    to HLL: with S = the k smallest hashes of A ∪ B (computable from
    the two sketches alone), ``|S ∩ skA ∩ skB| / |S|`` is an unbiased
    Jaccard estimator (Beyer et al. SIGMOD'07 §5; Broder's original
    min-wise argument). Cross-source overlap matrices at 10^5 shards
    never touch the raw data — only k·groups sketch rows move.

    Input: :func:`bottomk_sketch` output (grp, rank, h). Output one
    row per unordered group pair: (grp_a, grp_b, k_used, inter_k,
    jaccard_micros = inter_k · 1e6 div k_used). Exact integer
    arithmetic end-to-end (the estimator's randomness lives in the
    hash, not the math), so the oracle replays it bit-for-bit.

    Shape: the group-pair expansion is sketch-sized (p² pairs × ≤ 2k
    rows) — broadcast territory by construction; the union bottom-k is
    a window partitioned by PAIR (never global). No raw-data access.
    """
    s = sketch.select("grp", "h")
    g = s.select("grp").distinct()
    pairs = (
        g.select(F.col("grp").alias("ga"))
        .join(g.select(F.col("grp").alias("gb")))
        .filter(F.col("ga") < F.col("gb"))
    )
    ua = pairs.join(s.withColumnRenamed("grp", "ga"), "ga").select(
        "ga", "gb", "h"
    )
    ub = pairs.join(s.withColumnRenamed("grp", "gb"), "gb").select(
        "ga", "gb", "h"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("ga", "gb").orderBy("h")
    union_k = (
        ua.unionByName(ub)
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    in_a = s.select(F.col("grp").alias("_ga"), F.col("h").alias("_ha"))
    in_b = s.select(F.col("grp").alias("_gb"), F.col("h").alias("_hb"))
    flagged = (
        union_k.join(
            in_a,
            (F.col("ga") == F.col("_ga")) & (F.col("h") == F.col("_ha")),
            "left_semi",
        )
        .join(
            in_b,
            (F.col("gb") == F.col("_gb")) & (F.col("h") == F.col("_hb")),
            "left_semi",
        )
        .groupBy("ga", "gb")
        .agg(F.count("*").cast("bigint").alias("inter_k"))
    )
    totals = union_k.groupBy("ga", "gb").agg(
        F.count("*").cast("bigint").alias("k_used")
    )
    return (
        totals.join(flagged, ["ga", "gb"], "left")
        .select(
            F.col("ga").alias("grp_a"),
            F.col("gb").alias("grp_b"),
            "k_used",
            F.coalesce(F.col("inter_k"), F.lit(0)).alias("inter_k"),
            F.expr(
                "coalesce(inter_k, 0L) * 1000000L div k_used"
            ).alias("jaccard_micros"),
        )
    )


def heavy_hitters_mg(df: DataFrame, key_col: str,
                     phi_micros: int = 10_000) -> DataFrame:
    """φ-HEAVY HITTERS via per-partition Misra-Gries summaries + an
    exact verification pass (Misra & Gries 1982; the merge argument
    is Agarwal et al. PODS'12): every item whose global frequency
    exceeds ``φ·N`` (φ in micros: 10_000 = 1%) — EXACTLY, with NO
    false positives or negatives. Output: ``(item, n,
    share_micros)``.

    Why the sketch matters at 10^12 rows: a plain groupBy on the raw
    key materializes the full vocabulary (billions of groups); the
    MG pass keeps ≤ ⌈1/φ⌉ counters PER PARTITION and — by pigeonhole
    — an item with global count > φ·ΣN_p must exceed φ·N_p on at
    least one partition, so the union of partition summaries is a
    guaranteed SUPERSET of the true heavy hitters. The second pass
    recounts only that candidate set (broadcast semi-join → one
    small groupBy), so the exact threshold filter makes the final
    answer sketch-free — which is also why the ORACLE is closed-form
    (plain exact SQL) while the distributed machinery is the sketch.
    Deterministic under any partitioning by construction.

    Python touches rows once, Arrow-batched (mapInPandas with
    per-partition state); everything after is broadcast join +
    partial agg.
    """
    if not 0 < phi_micros <= 1_000_000:
        raise ValueError("phi_micros must be in (0, 1e6]")
    cap = (1_000_000 + phi_micros - 1) // phi_micros  # ceil(1/phi)

    def _mg(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for v in pdf[pdf.columns[0]]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < cap:
                    counters[v] = 1
                else:
                    dead = [k for k in counters
                            if counters[k] == 1]
                    for k in counters:
                        counters[k] -= 1
                    for k in dead:
                        del counters[k]
        yield pd.DataFrame({"item": list(counters.keys())})

    src = df.select(F.col(key_col).alias("item"))
    cands = (
        src.mapInPandas(_mg, "item string").distinct()
    )
    # total rides as a broadcast 1-row scalar — no separate driver
    # action, the whole operator stays ONE lazy plan
    totals = src.agg(F.count("*").cast("bigint").alias("_N"))
    exact = (
        src.join(F.broadcast(cands), "item")
        .groupBy("item")
        .agg(F.count("*").cast("bigint").alias("n"))
        .crossJoin(F.broadcast(totals))
        .filter(
            F.lit(1_000_000) * F.col("n") > F.lit(phi_micros) * F.col("_N")
        )
    )
    return exact.select(
        "item", "n",
        F.expr("1000000L * n div _N").alias("share_micros"),
    )
