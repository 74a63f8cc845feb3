"""Grouped statistical aggregates in EXACT integer arithmetic.

Spark ships ``regr_slope``/``regr_intercept``, but they sum doubles —
at 10^12 rows partial-aggregation order perturbs the low bits, so two
runs of the same query (or the engine vs an oracle) can disagree in the
last decimals. The repo-wide discipline (BASELINE.md; integer-micros
PageRank/HITS/LM scores) is to do the statistics in scaled integers:
sums of BIGINTs are associative-commutative EXACTLY, so the result is
bit-stable under any partitioning — the property that makes strict
oracle hashing possible at all.

``grouped_ols`` fits y = a + b·x per group from the five classic
sufficient statistics (n, Σx, Σy, Σx², Σxy) — ONE partial-agg groupBy
over the raw rows; everything after is per-group codegen arithmetic on
a group-count-sized table. Slope/intercept come out in FLOOR-division
micros; floor is computed as ``(a - pmod(a, b)) div b``, which agrees
across engines regardless of whether their integer division truncates
or floors, because the adjusted numerator is exactly divisible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def grouped_ols(
    rows: DataFrame,
    group_cols,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """(group…, n, slope_micros, intercept_micros): exact-integer OLS
    of ``y_col`` (already scaled to integer micros) on integer
    ``x_col`` per group.

    slope_micros = floor((n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)) — micro-y
    per unit x; intercept_micros = floor((Σy − slope·Σx) / n) with the
    integer slope substituted (the same substitution the oracle
    replays). Zero-x-variance groups yield NULL slope/intercept rather
    than a division error. Caller owns the integer scaling of x and y;
    sums must stay inside BIGINT — with micro-scaled y that bounds
    |x|·|y|·n at ~9·10^18, plenty for day-offset x at any corpus size
    when the group count keeps per-group n bounded.
    """
    groups = list(group_cols)
    x = F.col(x_col).cast("bigint")
    y = F.col(y_col).cast("bigint")
    s = rows.groupBy(*groups).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    num = "(n * sxy - sx * sy)"
    den = "(n * sxx - sx * sx)"
    slope = (
        f"CASE WHEN {den} > 0 THEN "
        f"({num} - (({num} % {den} + {den}) % {den})) div {den} "
        f"END"
    )
    inum = f"(sy - ({slope}) * sx)"
    intercept = (
        f"CASE WHEN {den} > 0 THEN "
        f"({inum} - (({inum} % n + n) % n)) div n "
        f"END"
    )
    return s.selectExpr(
        *groups,
        "n",
        f"CAST({slope} AS BIGINT) AS slope_micros",
        f"CAST({intercept} AS BIGINT) AS intercept_micros",
    )


def decayed_activity(
    events: DataFrame,
    anchor_date,
    half_life_days: int = 1,
) -> DataFrame:
    """Exponentially time-decayed activity score per key:
    (key, n_events, decayed_micros) with

        decayed_micros = Σ_events  value_micros div 2^(age/half_life)

    where age = whole days from the event date to ``anchor_date``
    (clamped at ≥ 0). The freshness weighting behind recrawl frontiers
    and trending-host ranking — recent signal counts full, signal one
    half-life old counts half, and so on.

    EXACT integer arithmetic: the decay factor is a power-of-two
    divisor (2^k is exact in BIGINT for k < 63; older events simply
    floor to 0), so the per-key sum is aggregation-order independent —
    the float ``exp(-λ·age)`` form cannot hash-match an oracle at any
    scale. ONE map-combined groupBy; the decay is per-row codegen.
    """
    age = F.greatest(
        F.datediff(F.lit(anchor_date).cast("date"),
                   F.to_date(F.col("ts"))),
        F.lit(0),
    )
    k = F.least(
        F.floor(age / F.lit(half_life_days)).cast("int"), F.lit(62)
    )
    # div by 2^k == arithmetic right shift: exact, no float anywhere
    # (call_function: the F.shiftright wrapper only takes literal bits)
    per_row = F.call_function(
        "shiftright", F.col("value_micros").cast("bigint"), k
    )
    return events.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(per_row).cast("bigint").alias("decayed_micros"),
    )


def skew_report(
    rows: DataFrame,
    key_col: str,
    topk: int = 10,
) -> DataFrame:
    """Join/agg skew diagnostics for a key column: the top-``topk``
    heaviest keys with (key, n_rows, share_micros, cum_share_micros) —
    the numbers that decide broadcast vs salt vs AQE before a big join
    is launched.

    share_micros = key count · 1e6 div total; cum_share_micros is the
    running share over the ranked heavy keys, so "top 3 keys own 60%
    of rows" is one glance. Plan: ONE map-combined groupBy (key-sized
    output), a TakeOrderedAndProject top-k, then a k-row window —
    bounded at k rows, never corpus- or key-sized. Ties rank by key
    ascending for replay determinism.
    """
    total = rows.groupBy().agg(F.count("*").alias("_tot"))
    counts = rows.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    top = counts.orderBy(F.desc("n_rows"), F.asc(key_col)).limit(topk)
    # cumulative share WITHOUT a window (even a k-row global WindowExec
    # would log the single-partition WARN this repo bans from bench
    # tails): pack the k rows into one sorted array, prefix-sum with
    # aggregate() in codegen, posexplode back. O(k^2) on k=topk rows.
    arr = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("n_rows")).alias("neg"),
                    F.col(key_col).alias("k"),
                    F.col("n_rows").alias("n"),
                )
            )
        ).alias("a")
    )
    exploded = arr.select(
        F.posexplode(
            F.transform(
                "a",
                lambda s, i: F.struct(
                    s["k"].alias("k"),
                    s["n"].alias("n"),
                    F.aggregate(
                        F.slice("a", F.lit(1), i + 1),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x["n"],
                    ).alias("cum"),
                ),
            )
        ).alias("_pos", "s")
    )
    return exploded.crossJoin(F.broadcast(total)).select(
        F.col("s.k").alias(key_col),
        F.col("s.n").alias("n_rows"),
        F.expr("s.n * 1000000L div _tot").alias("share_micros"),
        F.expr("s.cum * 1000000L div _tot").alias("cum_share_micros"),
    )

def robust_outliers_mad(
    df: DataFrame,
    value_col: str,
    group_col: str,
    z_threshold: float = 3.5,
) -> DataFrame:
    """Per-group robust outlier detection via the median / MAD z-score
    (Iglewicz & Hoaglin 1993's modified z) — the length-outlier gate a
    curation pipeline runs per language: mean/stddev are themselves
    dragged by the outliers they should catch; median and median-
    absolute-deviation have a 50% breakdown point, so one pathological
    host can't move the gate.

        z = 0.6745 · (x − median) / MAD,   outlier ⇔ |z| > threshold

    Shape: TWO grouped exact ``percentile`` aggregations (median, then
    median of |x − median|), each a partial-agg groupBy over the value
    column only — never a window over the corpus; the per-group 1-row
    dims broadcast back onto the row path and the z is per-row codegen.
    Exact percentile is fine while groups number in the thousands
    (languages/sources); at 10^12 rows per group swap BOTH calls to
    ``percentile_approx`` unchanged (same interpolation contract as
    textstats.length_percentiles' documented KLL path). Degenerate
    groups (MAD = 0 — over half the values identical) yield NULL z and
    outlier=false rather than dividing by zero.

    Output: (id, group, x, med, mad, z, is_outlier); z rounded to 4
    decimals (repo float-parity contract), med/mad exact interpolated
    doubles identical across engines (both compute (a+b)/2 in IEEE
    float64).
    """
    v = F.col(value_col).cast("double")
    med = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    dev = (
        df.select(
            F.col(group_col).alias("grp"), v.alias("_x")
        )
        .join(F.broadcast(med), "grp")
        .select("grp", F.abs(F.col("_x") - F.col("med")).alias("_ad"))
        .groupBy("grp")
        .agg(F.expr("percentile(_ad, 0.5)").alias("mad"))
    )
    z = F.when(
        F.col("mad") > 0,
        F.round(
            F.lit(0.6745) * (F.col("x") - F.col("med")) / F.col("mad"), 4
        ),
    )
    return (
        df.select(
            F.col("doc_id").alias("id"),
            F.col(group_col).alias("grp"),
            v.alias("x"),
        )
        .join(F.broadcast(med), "grp")
        .join(F.broadcast(dev), "grp")
        .select(
            "id",
            "grp",
            "x",
            "med",
            "mad",
            z.alias("z"),
            F.coalesce(
                F.abs(z) > F.lit(z_threshold), F.lit(False)
            ).alias("is_outlier"),
        )
    )


def signal_correlations(
    df: DataFrame,
    signal_cols: list,
    group_col: str,
) -> DataFrame:
    """Per-group Pearson correlation of every quality-signal pair —
    the redundancy audit run before combining curation signals into a
    composite score (two signals at r > 0.9 double-count one
    phenomenon; a filter chain keyed on both is really one gate).

    EXACT integer sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) for
    all p(p+1)/2 column pairs in ONE partial-agg groupBy — inputs are
    cast to bigint (counts/lengths already are; pre-quantize real-
    valued signals to micros first), so the sums are order-free and
    the single float op per output cell (the final r = cov/√(vx·vy))
    is one deterministic IEEE expression replayed identically by any
    engine. Never a corpus window, never per-pair passes: p² stats
    ride one shuffle of group-count rows.

    Output: (group, sig_i, sig_j, n, r) for i < j, r rounded to 4
    decimals, NULL when either variance is 0.
    """
    if len(signal_cols) < 2:
        raise ValueError("need at least two signal columns")
    aggs = [F.count("*").cast("bigint").alias("n")]
    for c in signal_cols:
        aggs.append(F.sum(F.col(c).cast("bigint")).alias(f"s_{c}"))
        aggs.append(
            F.sum(
                (F.col(c).cast("bigint") * F.col(c).cast("bigint"))
            ).alias(f"ss_{c}")
        )
    for i, a in enumerate(signal_cols):
        for b in signal_cols[i + 1:]:
            aggs.append(
                F.sum(
                    F.col(a).cast("bigint") * F.col(b).cast("bigint")
                ).alias(f"sp_{a}_{b}")
            )
    stats = df.groupBy(F.col(group_col).alias("grp")).agg(*aggs)
    out = None
    for i, a in enumerate(signal_cols):
        for b in signal_cols[i + 1:]:
            n = F.col("n")
            cov = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            vx = n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
            vy = n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
            r = F.when(
                (vx > 0) & (vy > 0),
                F.round(
                    cov.cast("double")
                    / F.sqrt(vx.cast("double") * vy.cast("double")),
                    4,
                ),
            )
            row = stats.select(
                "grp",
                F.lit(a).alias("sig_i"),
                F.lit(b).alias("sig_j"),
                n.alias("n"),
                r.alias("r"),
            )
            out = row if out is None else out.unionByName(row)
    return out


def categorical_nmi(
    df: DataFrame,
    pred_col: str,
    truth_col: str,
) -> DataFrame:
    """Normalized mutual information between two categorical labelings
    — the standard extrinsic quality score for cluster assignments
    (dedup clusters vs known duplicate groups, topic clusters vs
    source labels): NMI = 2·I(C;T) / (H(C) + H(T)) ∈ [0, 1], invariant
    to label permutation, so it scores the PARTITION, not the names.

    All probabilities are exact count ratios from ONE pair groupBy
    (marginals re-aggregate from the pair counts — raw rows shuffle
    once); entropies and MI are Σ p·ln(…) floored to micros (q146's
    cross-engine ln discipline). Output: ONE row
    (n, h_pred_micros, h_truth_micros, mi_micros, nmi_micros).
    Degenerate single-class labelings (H = 0 both sides) yield
    nmi_micros NULL rather than 0/0.
    """
    pair = df.groupBy(
        F.col(pred_col).alias("c"), F.col(truth_col).alias("t")
    ).agg(F.count("*").cast("bigint").alias("n_ct"))
    pc = pair.groupBy("c").agg(F.sum("n_ct").alias("n_c"))
    pt = pair.groupBy("t").agg(F.sum("n_ct").alias("n_t"))
    n = pair.agg(F.sum("n_ct").alias("n")).withColumn("_one", F.lit(1))
    joined = (
        pair.join(F.broadcast(pc), "c")
        .join(F.broadcast(pt), "t")
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(n), "_one")
    )
    mi = joined.agg(
        F.max("n").alias("n"),
        F.floor(
            F.lit(1e6)
            * F.sum(
                (F.col("n_ct").cast("double") / F.col("n"))
                * F.log(
                    (F.col("n_ct").cast("double") * F.col("n"))
                    / (F.col("n_c").cast("double") * F.col("n_t"))
                )
            )
        ).cast("bigint").alias("mi_micros"),
    ).withColumn("_one", F.lit(1))
    hc = (
        pc.withColumn("_one", F.lit(1))
        .join(F.broadcast(n.select("_one", "n")), "_one")
        .agg(
            F.floor(
                F.lit(-1e6)
                * F.sum(
                    (F.col("n_c").cast("double") / F.col("n"))
                    * F.log(F.col("n_c").cast("double") / F.col("n"))
                )
            ).cast("bigint").alias("h_pred_micros")
        )
        .withColumn("_one", F.lit(1))
    )
    ht = (
        pt.withColumn("_one", F.lit(1))
        .join(F.broadcast(n.select("_one", "n")), "_one")
        .agg(
            F.floor(
                F.lit(-1e6)
                * F.sum(
                    (F.col("n_t").cast("double") / F.col("n"))
                    * F.log(F.col("n_t").cast("double") / F.col("n"))
                )
            ).cast("bigint").alias("h_truth_micros")
        )
        .withColumn("_one", F.lit(1))
    )
    return (
        mi.join(hc, "_one")
        .join(ht, "_one")
        .select(
            "n",
            "h_pred_micros",
            "h_truth_micros",
            "mi_micros",
            F.when(
                F.col("h_pred_micros") + F.col("h_truth_micros") > 0,
                F.expr(
                    "2 * mi_micros * 1000000L div "
                    "(h_pred_micros + h_truth_micros)"
                ),
            ).alias("nmi_micros"),
        )
    )


def boolean_gate_agreement(
    df: DataFrame,
    gate_cols: list,
) -> DataFrame:
    """Pairwise agreement audit of boolean curation gates (Gopher
    flags, badwords, soft-404, quality verdicts…): for every gate pair
    the 2×2 confusion counts, positive-set Jaccard, and Cohen's κ —
    the filter-redundancy numbers (two gates at κ ≈ 1 are one gate;
    a gate pair at κ < 0 is actively contradictory) read before
    chaining filters into a pipeline.

    EXACT integer arithmetic throughout: κ's usual float form
    ``(pₒ − pₑ)/(1 − pₑ)`` is the integer rational
    ``(n·(n11+n00) − (a1·b1 + a0·b0)) · 1e6 div (n² − (a1·b1+a0·b0))``
    (numerator may be negative — floor-safe division via the
    grouped_ols numerator-adjust idiom). ALL pairs' counts ride ONE
    partial-agg aggregation (sums of 0/1 products); output is
    pair-count-sized. Degenerate pairs (pₑ = 1: both gates constant)
    yield NULL κ; empty positive unions yield NULL Jaccard.
    """
    if len(gate_cols) < 2:
        raise ValueError("need at least two gate columns")
    aggs = [F.count("*").cast("bigint").alias("n")]
    ints = {c: F.col(c).cast("int").cast("bigint") for c in gate_cols}
    for c in gate_cols:
        aggs.append(F.sum(ints[c]).alias(f"p_{c}"))
    for i, a in enumerate(gate_cols):
        for b in gate_cols[i + 1:]:
            aggs.append(F.sum(ints[a] * ints[b]).alias(f"n11_{a}_{b}"))
    stats = df.agg(*aggs)
    out = None
    for i, a in enumerate(gate_cols):
        for b in gate_cols[i + 1:]:
            n11 = f"n11_{a}_{b}"
            expr = {
                "n10": f"(p_{a} - {n11})",
                "n01": f"(p_{b} - {n11})",
                "n00": f"(n - p_{a} - p_{b} + {n11})",
            }
            pe_num = (
                f"(p_{a} * p_{b} + (n - p_{a}) * (n - p_{b}))"
            )
            knum = f"(n * ({n11} + {expr['n00']}) - {pe_num})"
            kden = f"(n * n - {pe_num})"
            kappa = (
                f"CASE WHEN {kden} > 0 THEN "
                f"(1000000 * {knum} - ((1000000 * {knum} % {kden} "
                f"+ {kden}) % {kden})) div {kden} END"
            )
            juni = f"({n11} + {expr['n10']} + {expr['n01']})"
            row = stats.selectExpr(
                f"'{a}' AS gate_a",
                f"'{b}' AS gate_b",
                "n",
                f"{n11} AS n11",
                f"CAST({expr['n10']} AS BIGINT) AS n10",
                f"CAST({expr['n01']} AS BIGINT) AS n01",
                f"CAST({expr['n00']} AS BIGINT) AS n00",
                f"CASE WHEN {juni} > 0 THEN {n11} * 1000000 div {juni} "
                f"END AS jaccard_micros",
                f"CAST({kappa} AS BIGINT) AS kappa_micros",
            )
            out = row if out is None else out.unionByName(row)
    return out


def psi_drift(
    df: DataFrame,
    value_col: str,
    batch_col: str,
    bin_width: int,
) -> DataFrame:
    """Population Stability Index of an integer feature between corpus
    batches — the binned scalar-drift metric model-risk teams pin
    release gates to (PSI < 0.1 stable, 0.1–0.25 watch, > 0.25 shift),
    complementing q228's per-shard KL (composition vs global) and
    q236's embedding mean drift (vector first moment)::

        PSI(a, b) = Σ_bins (p_i − q_i) · ln(p_i / q_i)

    Fixed-width VALUE-determined bins (``value div bin_width``) keep
    the binning reproducible across engines and runs — quantile bins
    would re-cut on every batch. Empty-in-one-side bins use the
    standard ε = 1 pseudo-count on BOTH counts (the industry fix for
    PSI's log(0); applied symmetrically so a balanced feature still
    scores ~0). Counts ride ONE (batch, bin) partial-agg groupBy;
    the ln per bin pair floors to micros (q146 discipline). Output:
    one row per batch pair (batch_a, batch_b, n_a, n_b, n_bins,
    psi_micros).
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    binned = df.select(
        F.col(batch_col).cast("string").alias("b"),
        F.expr(
            f"CAST({value_col} AS BIGINT) div {bin_width}"
        ).alias("bin"),
    )
    counts = binned.groupBy("b", "bin").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = counts.groupBy("b").agg(F.sum("c").alias("n"))
    a = counts.join(tot, "b").select(
        F.col("b").alias("batch_a"),
        "bin",
        F.col("c").alias("c_a"),
        F.col("n").alias("n_a"),
    )
    bb = counts.join(tot, "b").select(
        F.col("b").alias("batch_b"),
        "bin",
        F.col("c").alias("c_b"),
        F.col("n").alias("n_b"),
    )
    # full outer per pair: realize via the pair frame of totals so
    # bins missing on one side keep the other's count (ε fills below)
    pairs = (
        tot.select(F.col("b").alias("batch_a"), F.col("n").alias("n_a"))
        .join(
            tot.select(
                F.col("b").alias("batch_b"), F.col("n").alias("n_b")
            )
        )
        .filter(F.col("batch_a") < F.col("batch_b"))
    )
    bins = counts.select("bin").distinct()
    grid = pairs.join(F.broadcast(bins))
    cells = (
        grid.join(
            a.select("batch_a", "bin", "c_a"), ["batch_a", "bin"],
            "left",
        )
        .join(
            bb.select("batch_b", "bin", "c_b"), ["batch_b", "bin"],
            "left",
        )
        .select(
            "batch_a",
            "batch_b",
            "n_a",
            "n_b",
            "bin",
            (F.coalesce(F.col("c_a"), F.lit(0)) + 1).alias("ca1"),
            (F.coalesce(F.col("c_b"), F.lit(0)) + 1).alias("cb1"),
        )
    )
    # p = ca1/(n_a + n_bins), q = cb1/(n_b + n_bins): ε=1 per bin
    # (na1/nb1 resolve lazily — they are attached just below)
    term = (
        (
            F.col("ca1").cast("double") / F.col("na1")
            - F.col("cb1").cast("double") / F.col("nb1")
        )
        * F.log(
            (F.col("ca1").cast("double") * F.col("nb1"))
            / (F.col("cb1").cast("double") * F.col("na1"))
        )
    )
    n_bins = bins.agg(F.count("*").cast("bigint").alias("n_bins"))
    withn = cells.withColumn("_one", F.lit(1)).join(
        F.broadcast(n_bins.withColumn("_one", F.lit(1))), "_one"
    ).withColumn("na1", F.col("n_a") + F.col("n_bins")).withColumn(
        "nb1", F.col("n_b") + F.col("n_bins")
    )
    return withn.groupBy("batch_a", "batch_b").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("n_bins").alias("n_bins"),
        F.floor(F.lit(1e6) * F.sum(term)).cast("bigint").alias(
            "psi_micros"
        ),
    )


def table_profile(
    df: DataFrame,
    cols: list,
) -> DataFrame:
    """Per-column data-quality profile — (col_name, n, n_null,
    n_distinct, top_value, top_count) — the dbt-test/Deequ-style
    release audit run on every published table: null rates catch
    broken extraction, distinct counts catch key collapse, the top
    value catches constant/fallback pollution ("", "unknown", 0).

    Per column: value counts are a map-combined groupBy (value-
    cardinality-sized), the argmax rides ONE ``max(struct(cnt,
    value))`` aggregation — ties break by lexicographically LARGEST
    value (the struct ordering; documented contract, deterministic in
    both engines). n_distinct is exact here; at 10^12 rows swap the
    distinct counts to ``approx_count_distinct`` and the groupBys
    stay (they are the same shape HLL feeds on). NULLs are excluded
    from value counts (profiled separately as n_null).
    """
    if not cols:
        raise ValueError("need at least one column")
    out = None
    for c in cols:
        s = F.col(c).cast("string")
        counts = (
            df.select(s.alias("_v"))
            .filter(F.col("_v").isNotNull())
            .groupBy("_v")
            .agg(F.count("*").cast("bigint").alias("_c"))
        )
        top = counts.agg(
            F.max(F.struct(F.col("_c"), F.col("_v"))).alias("_m"),
            F.count("*").cast("bigint").alias("n_distinct"),
        )
        base = df.agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(s.isNull().cast("int")).cast("bigint").alias(
                "n_null"
            ),
        )
        row = base.crossJoin(F.broadcast(top)).select(
            F.lit(c).alias("col_name"),
            "n",
            "n_null",
            "n_distinct",
            F.col("_m._v").alias("top_value"),
            F.col("_m._c").alias("top_count"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def kleinberg_bursts(events: DataFrame, s: float = 2.0,
                     gamma_micros: int = 2_000_000) -> DataFrame:
    """Kleinberg 2-state burst detection (Kleinberg KDD 2002, the
    batched/enumerating variant) over per-window event counts — the
    trend-mining classic: a term is "bursting" in the windows where a
    2-state automaton (base rate p0 = the term's overall share, burst
    rate p1 = min(s*p0, 0.999999)) explains its counts more cheaply
    than staying in the base state, with an entry toll ``gamma_micros``
    that suppresses one-window noise.

    Input: one row per EVENT ``(term, t)`` with ``t`` a contiguous
    integer window index. Output: one row per (term, window) on the
    FULL grid (zero-count windows included — they end bursts):
    ``(term, t, n, burst)``.

    Exactness contract: the per-(term, window, state) binomial
    log-cost ``-floor(1e6 * (n*ln(p) + (N-n)*ln(1-p)))`` is quantized
    to integer micros from an expression the DuckDB oracle states
    verbatim; the Viterbi itself then runs in EXACT integer arithmetic
    (python ints / recursive-CTE BIGINTs), so state labels cannot
    drift with aggregation or iteration order. Labels come from
    forward+backward totals (argmin_s F+B-c per window, ties → base
    state), which needs no backtrack pointer plumbing.

    Scale shape: counts are two partial-agg groupBys of the event
    stream ((t) totals and (term, t)); the grid is |terms| x |windows|
    — both dims vocabulary/calendar-bounded by construction (the cross
    join is dim x dim, never event-scale). The DP is one
    applyInPandas over term — W integer ops per group after ONE
    shuffle on the term key; a hot term costs W ints, not its event
    count, because only counts cross the Arrow boundary.
    """
    import pandas as pd

    # counts AND state costs are stated in ONE parameterized
    # spark.sql — four partial-agg passes joined on dim-sized keys,
    # binomial log-costs floored to integer micros in the same
    # statement (verbatim the oracle's expressions). A DataFrame-API
    # build trips Spark 4.1's name resolution here: it resolves
    # through projections into inner scopes, so any re-select of a
    # name that also exists below (a sibling-aggregate join of one
    # frame) reports a phantom AMBIGUOUS_REFERENCE. One SQL statement
    # with no post-hoc by-name selects sidesteps it and compiles to
    # the identical plan.
    sd = float(s)
    costs = events.sparkSession.sql(
        f"""
        WITH nt AS (SELECT t AS _t, count(*) AS _N
                    FROM {{ev}} GROUP BY t),
        ntt AS (SELECT term AS _tm, t AS _t, count(*) AS _n
                FROM {{ev}} GROUP BY term, t),
        tt AS (SELECT term AS _tm, CAST(count(*) AS BIGINT)
                        AS _n_tot
               FROM {{ev}} GROUP BY term),
        gg AS (SELECT CAST(count(*) AS BIGINT) AS _N_tot FROM {{ev}})
        SELECT tt._tm AS term, nt._t AS t,
               CAST(coalesce(ntt._n, 0) AS BIGINT) AS n,
               CAST(-floor(1e6 * (coalesce(ntt._n, 0)
                    * ln(CAST(tt._n_tot AS DOUBLE) / gg._N_tot)
                    + (nt._N - coalesce(ntt._n, 0))
                    * ln(1.0 - CAST(tt._n_tot AS DOUBLE) / gg._N_tot)))
                    AS BIGINT) AS _c0,
               CAST(-floor(1e6 * (coalesce(ntt._n, 0)
                    * ln(least({sd!r} * (CAST(tt._n_tot AS DOUBLE)
                                         / gg._N_tot), 0.999999))
                    + (nt._N - coalesce(ntt._n, 0))
                    * ln(1.0 - least({sd!r} * (CAST(tt._n_tot AS DOUBLE)
                                               / gg._N_tot), 0.999999))))
                    AS BIGINT) AS _c1
        FROM tt CROSS JOIN nt
        LEFT JOIN ntt ON ntt._tm = tt._tm AND ntt._t = nt._t
        CROSS JOIN gg
        """,
        ev=events,
    )

    gamma = int(gamma_micros)

    def _viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        c0 = [int(x) for x in pdf["_c0"]]
        c1 = [int(x) for x in pdf["_c1"]]
        w = len(c0)
        f0, f1 = [0] * w, [0] * w
        f0[0], f1[0] = c0[0], c1[0] + gamma
        for t in range(1, w):
            f0[t] = min(f0[t - 1], f1[t - 1]) + c0[t]
            f1[t] = min(f0[t - 1] + gamma, f1[t - 1]) + c1[t]
        b0, b1 = [0] * w, [0] * w
        for t in range(w - 2, -1, -1):
            b0[t] = min(c0[t + 1] + b0[t + 1],
                        gamma + c1[t + 1] + b1[t + 1])
            b1[t] = min(c0[t + 1] + b0[t + 1], c1[t + 1] + b1[t + 1])
        burst = [
            1 if f1[t] + b1[t] < f0[t] + b0[t] else 0 for t in range(w)
        ]
        return pd.DataFrame(
            {
                "term": pdf["term"],
                "t": pdf["t"],
                "n": pdf["n"],
                "burst": burst,
            }
        )

    out_schema = "term string, t bigint, n bigint, burst int"
    return costs.groupBy(costs["term"]).applyInPandas(
        _viterbi, out_schema
    )
