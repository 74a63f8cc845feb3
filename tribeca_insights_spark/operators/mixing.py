"""Deterministic mixture sampling for training-data composition.

Beyond-reference capability (task brief): assembling a pre-training mix
means sampling each source at its own rate — and doing it REPRODUCIBLY,
so that re-running the pipeline (or re-running one partition after a
failure) selects exactly the same documents. The standard trick, used
here: hash each document's stable key into a uniform bucket and keep it
iff bucket < rate. No RNG state, no seed plumbing, no driver
involvement — membership is a pure function of (key, rate), so the
operator is a narrow shuffle-free filter that any engine can replay
(DuckDB oracles included).

At 100 TB this is the ideal shape: the sample predicate sits directly
above the scan (Catalyst pushes the source-rate join down as a
broadcast), and per-source rates arrive as a tiny dimension — changing
the mix never reshuffles the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MICROS = 1_000_000


def hash_bucket_micros(col, salt: str = ""):
    """Uniform bucket in [0, 1e6) from md5 of the column's string form.

    First 8 hex chars → long → mod 1e6; identical in DuckDB as
    ``('0x' || substr(md5(x), 1, 8))::BIGINT % 1000000``.
    """
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))),
                        1, 8),
            16, 10,
        ).cast("long")
        % MICROS
    )


def mixture_sample(df: DataFrame, rates: DataFrame) -> DataFrame:
    """Keep each row iff hash_bucket(key) < its group's rate_micros.

    ``rates`` is a small (source, rate_micros) dimension — broadcast
    so the filter stays a narrow op over the scan. Adds ``rate_micros``
    and ``sample_weight`` (1e6 / rate, the inverse-probability weight a
    training loop uses to de-bias the mix) to the surviving rows.
    """
    bucket = hash_bucket_micros(F.col("doc_id"))
    return (
        df.join(F.broadcast(rates), "source")
        .filter(bucket < F.col("rate_micros"))
        .withColumn(
            "sample_weight", F.lit(float(MICROS)) / F.col("rate_micros")
        )
    )


def token_budget_rates(domain_tokens: DataFrame, weights: DataFrame,
                       budget: int) -> DataFrame:
    """Turn a target mixture (per-group weights) + a global token budget
    into per-group keep-rates, with one water-filling redistribution
    round for groups too small to supply their share.

    Inputs: ``domain_tokens`` (group, n_tokens BIGINT — what each source
    HAS), ``weights`` (group, weight_micros BIGINT — what the mix WANTS,
    unnormalized). Output per group: n_tokens, desired_tokens (after
    redistribution), kept_tokens = min(desired, available), rate_micros =
    floor(1e6 * kept / available).

    Round 1: desired = floor(budget * w / W). Groups with desired >=
    n_tokens are CAPPED (rate 1.0); their surplus is pooled and
    re-granted to uncapped groups proportional to weight — the first
    iteration of exact water-filling, which in practice recovers almost
    all of the budget (further rounds converge geometrically; loop the
    operator if exactness matters).

    All arithmetic is integer (floor-division micros), so results are
    engine-exact and aggregation-order-independent. Scale shape: the
    per-group dimension is tiny (thousands of domains vs billions of
    docs); both aggregate totals are computed in-dataflow and broadcast
    back (crossJoin of 1-row aggregates), so the plan has no driver
    round-trip and the heavy corpus never reshuffles — apply the
    resulting rates with ``mixture_sample``.
    """
    j = domain_tokens.join(weights, "source")
    tot = j.agg(F.sum("weight_micros").cast("long").alias("w_total"))
    # exact integer floor-div (``div``), not float ``/`` + floor —
    # budget*weight exceeds 2^53 at real budgets and doubles round
    r1 = j.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens", "weight_micros",
        F.expr(f"(CAST({int(budget)} AS BIGINT) * weight_micros)"
               " div w_total").alias("desired1"),
    )
    pool = r1.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("desired1") >= F.col("n_tokens"),
                       F.col("desired1") - F.col("n_tokens"))
            ).cast("long"),
            F.lit(0).cast("long"),
        ).alias("surplus"),
        F.coalesce(
            F.sum(
                F.when(F.col("desired1") < F.col("n_tokens"),
                       F.col("weight_micros"))
            ).cast("long"),
            F.lit(0).cast("long"),
        ).alias("w_uncapped"),
    )
    r2 = r1.crossJoin(F.broadcast(pool)).select(
        "source", "n_tokens",
        F.when(
            F.col("desired1") >= F.col("n_tokens"), F.col("desired1")
        ).otherwise(
            F.col("desired1")
            + F.when(
                F.col("w_uncapped") > 0,
                F.expr("(surplus * weight_micros) div w_uncapped"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("desired_tokens"),
    )
    return r2.select(
        "source", "n_tokens", "desired_tokens",
        F.least("desired_tokens", "n_tokens").alias("kept_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"({MICROS} * least(desired_tokens, n_tokens))"
                   " div n_tokens"),
        ).otherwise(F.lit(0).cast("long")).alias("rate_micros"),
    )


def split_assign(df: DataFrame, salt: str = "split",
                 train_micros: int = 980_000,
                 val_micros: int = 10_000) -> DataFrame:
    """Deterministic train/val/test assignment: md5-bucket the stable
    key (salted, so the split is independent of every other hash-bucket
    decision in the pipeline) and cut [0, 1e6) into train / val / test
    contiguous ranges. Membership is a pure function of (key, salt,
    cuts) — rerun-stable, partition-replay-stable, and portable across
    engines, which is what makes held-out sets trustworthy: a document
    can never migrate between splits when the corpus is re-sharded,
    re-ordered, or incrementally extended.

    Scale shape: one narrow projection over the scan — no shuffle, no
    RNG state, no driver involvement. The test split is whatever
    remains above train+val, so the three fractions always partition
    the corpus exactly.
    """
    bucket = hash_bucket_micros(F.col("doc_id"), salt=salt)
    return df.withColumn("split_bucket", bucket).withColumn(
        "split",
        F.when(F.col("split_bucket") < train_micros, F.lit("train"))
        .when(F.col("split_bucket") < train_micros + val_micros,
              F.lit("val"))
        .otherwise(F.lit("test")),
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    salt: str = "prio",
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup, JACM 2007): a
    weight-proportional sample of EXACTLY ``k`` rows with an unbiased
    per-row weight estimator — the scheme production pipelines use to
    build small weighted sketches of huge corpora (per-domain token
    subsets, debug slices) whose aggregates still estimate corpus
    totals.

    Each row draws a deterministic uniform ``u ∈ [1, 1e6]`` from the
    salted md5 bucket of its key (rerun-stable, partition-replay-stable,
    engine-portable — no RNG state), gets priority
    ``q = w · 1e12 div u`` (all BIGINT), and the top-``k`` priorities
    win. Since ``u = u_micros/1e6``, the priority IS the real-valued
    q = w/u expressed in micros. τ = the (k+1)-th priority; each
    sampled row's estimator is ``ŵ = max(w, τ)``, emitted as
    ``est_weight_micros = greatest(w·1e6, τ)`` so Σ est over the
    sample estimates Σ w over the corpus unbiasedly (τ = 0 when
    n ≤ k, and the estimator degrades to the exact weight).

    Plan shape: priorities are a narrow projection over the scan; the
    top-(k+1) is TakeOrderedAndProject (per-partition heaps + driver
    merge of k+1-row fronts — never a global sort); τ is a 1-row
    aggregate broadcast back. One job, no shuffle wider than k+1 rows
    per partition. Ties are broken by key ascending for full
    determinism (md5 priorities make real ties vanishingly rare).

    Overflow headroom: w · 1e12 must fit BIGINT → w < 9·10^6. For
    token-count weights beyond that, drop the priority scale to 1e9
    (u resolution unchanged; same plan).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    u = (hash_bucket_micros(F.col("doc_id"), salt=salt) + 1).alias(
        "u_micros"
    )
    with_pri = df.withColumn("u_micros", u).withColumn(
        "priority",
        F.expr(f"({weight_col} * 1000000000000L) div u_micros")
        .cast("long"),
    )
    topk1 = with_pri.orderBy(
        F.desc("priority"), F.asc("doc_id")
    ).limit(k + 1)
    tau = topk1.agg(
        F.when(F.count("*") > k, F.min("priority"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("tau")
    )
    return (
        topk1.orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(k)
        .crossJoin(F.broadcast(tau))
        .withColumn(
            "est_weight_micros",
            F.expr(
                f"greatest({weight_col} * {MICROS}L, tau)"
            ).cast("long"),
        )
        .drop("tau")
    )


def stratified_topk_sample(
    df: DataFrame,
    stratum_col: str = "lang",
    k: int = 10,
) -> DataFrame:
    """EXACT-k per-stratum sample, deterministic: rank documents inside
    each stratum by ``md5(id)`` (a uniform, engine-portable pseudo-random
    order — no RNG state, rerun-stable, join-reproducible) and keep the
    first ``k``. The complement of rate-based mixture sampling
    (``mixture_sample``): rates hit a TARGET FRACTION, this hits a
    TARGET COUNT — eval-set carving and per-language probe sets need the
    count form.

    One window per stratum (partitioned hash sort of k·strata winners —
    at 10^12 rows pre-filter with an approximate per-stratum rank bound
    before the exact window; shape note only, the window itself is
    already stratum-partitioned, never global).
    """
    from pyspark.sql import Window

    rk = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy(stratum_col).orderBy(rk.asc(), F.col("doc_id"))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .withColumnRenamed("_rk", "sample_rank")
    )


def sqrt_temperature_rates(domain_tokens: DataFrame) -> DataFrame:
    """Temperature-scaled mixture rates at T = 2 (α = 1/2): each
    group's sampling share ∝ √(token count) — the standard multilingual
    rebalance (mBERT/XLM-R exponent-smooth corpus sizes so
    head languages stop drowning the tail; α = 1/2 is the common
    default). Integer-exact cross-engine: the only float op is one
    correctly-rounded IEEE sqrt per GROUP (floor(sqrt(n·1e6)) — the
    argument stays < 2^53 for corpora to 10^9 tokens per group, and
    sqrt of an exact integer is bit-identical on any IEEE engine), so
    ``rate_micros = 1e6 · s_g div Σ s`` is plain BIGINT after that.

    Returns (group, n_tokens, sqrt_scale, rate_micros). Shape: the
    input is already the group-sized token-count table (one partial
    agg upstream); the total is a broadcast 1-row scalar — nothing
    here ever touches corpus rows.
    """
    scaled = domain_tokens.select(
        F.col("source"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.sqrt(F.col("n_tokens").cast("double") * 1e6))
        .cast("long").alias("sqrt_scale"),
    )
    tot = scaled.agg(
        F.sum("sqrt_scale").cast("long").alias("_tot")
    )
    return scaled.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens", "sqrt_scale",
        F.expr("sqrt_scale * 1000000L div _tot").alias("rate_micros"),
    )


def frequency_subsample(docs: DataFrame, t_micros: int = 1000) -> DataFrame:
    """word2vec-style frequent-word subsampling report (Mikolov et al.
    2013): occurrences of word w are kept with probability
    √(t / f(w)) where f is corpus frequency — the downsampling that
    stops "the"-class tokens from dominating embedding/LM training
    while leaving rare-word occurrences untouched. Fully
    deterministic: the keep threshold is
    ``min(1e6, floor(sqrt((t_micros · T · 1e6) div cf)))`` (one
    correctly-rounded IEEE sqrt of an exact BIGINT — the q176
    discipline; the argument stays < 2^53 for T·t_micros·1e6 < 9e15,
    i.e. shard-level totals at the default t — larger corpora rescale
    the constant or subsample per shard, noted here) and each
    occurrence draws its uniform from
    ``md5(doc_id ':' pos ':' word) % 1e6`` — rerun-stable,
    partition-stable, engine-portable.

    Returns the vocabulary-sized report (word, cf, threshold_micros,
    n_kept); per-token keep decisions are the same expressions inline
    where a pipeline wants the filtered stream itself. Shape: one
    (word) count agg, a broadcast 1-row total, then ONE more pass over
    the token stream joined to the vocab dim — at web scale the vocab
    side is Heaps-law sized and the join is the same broadcast shape
    as the stopword dim.
    """
    from .dsir import _words

    toks = docs.select(
        F.col("doc_id").alias("_doc"),
        F.posexplode(_words(F.col("text"))).alias("pos", "w"),
    )
    cf = toks.groupBy("w").agg(
        F.count("*").cast("bigint").alias("cf")
    )
    tot = cf.agg(F.sum("cf").cast("bigint").alias("_t"))
    thresh = cf.crossJoin(F.broadcast(tot)).select(
        "w", "cf",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.floor(
                F.sqrt(
                    F.expr(f"({t_micros}L * _t * 1000000L) div cf")
                    .cast("double")
                )
            ).cast("long"),
        ).alias("threshold_micros"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("_doc").cast("string"),
                        F.col("pos").cast("string"),
                        F.col("w"),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 1_000_000
    )
    marked = toks.join(thresh, "w").select(
        "w", "cf", "threshold_micros",
        (u < F.col("threshold_micros")).cast("long").alias("_keep"),
    )
    return marked.groupBy("w", "cf", "threshold_micros").agg(
        F.sum("_keep").cast("bigint").alias("n_kept")
    ).withColumnRenamed("w", "word")


def shard_assign(
    df: DataFrame,
    n_shards: int = 16,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-shard layout report for a deterministic hash-sharded write:
    (shard, n_docs, sum_weight, docs_share_micros, weight_share_micros).

    The shard of a row is ``md5(key) mod n_shards`` — rerun- and
    partition-stable (the mixture_sample coin discipline), so a writer
    that does ``df.repartition(n_shards, shard).write`` produces the
    SAME file layout on every run and an incremental run appends to the
    same shards. The report is what an operator dashboard watches: share
    columns are integer micros of the totals, so a hot shard (skewed
    key) is visible as share >> 1e6/n_shards BEFORE the write job hits
    a straggler. One partial-agg groupBy on n_shards groups + a 1-row
    broadcast total — no window, no sort, corpus-size independent.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    w = (F.col(weight_col) if weight_col
         else F.lit(1)).cast("long")
    shard = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % n_shards
    )
    per = df.select(shard.alias("shard"), w.alias("_w")).groupBy(
        "shard"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("_w").alias("sum_weight"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("_nd"), F.sum("sum_weight").alias("_sw")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("sum_weight").cast("long").alias("sum_weight"),
            F.expr("n_docs * 1000000L div _nd").alias("docs_share_micros"),
            F.expr("sum_weight * 1000000L div _sw").alias(
                "weight_share_micros"
            ),
        )
    )


def ipf_raking(
    counts: DataFrame,
    row_targets: DataFrame,
    col_targets: DataFrame,
    iters: int = 2,
) -> DataFrame:
    """(row_key, col_key, n, weight_micros): iterative proportional
    fitting (raking) of a contingency table toward target marginals —
    the corpus-rebalance primitive: given observed (source × lang) doc
    counts and desired per-source / per-lang token shares, IPF yields
    per-cell sampling weights whose weighted marginals approach both
    targets simultaneously (Deming & Stephan 1940; what survey
    statisticians call raking and mixture tuning calls it too).

    Inputs: ``counts`` (row_key, col_key, n); ``row_targets``
    (row_key, target_micros) and ``col_targets`` (col_key,
    target_micros), each target set summing to ~1e6. Each iteration is
    one row pass then one col pass::

        w ← w · row_target · 1e6  div  Σ_col (n·w)      (per row)
        w ← w · col_target · 1e6  div  Σ_row (n·w)      (per col)

    with w in integer micros and floor division — aggregation-order
    independent and engine-replayable (the unrolled oracle matches by
    hash). Two overflow guards shape the arithmetic: cell counts are
    first normalized to SHARE micros (n·1e6 div Σn — so the math is
    corpus-size independent and w stays O(1e6) instead of growing
    with absolute mass), and the update divides the marginal mass
    down BEFORE multiplying (w·target div max(mass div 1e6, 1) —
    bounded by w·1e6 ≤ 2^63 for any w ≤ 9.2e12, where the naive
    w·target·1e6 div mass form overflows at w ≈ 9.2e6). The ≤1e-6
    relative floor loss from pre-dividing is itself deterministic and
    replayed by the oracle.

    Scale shape: ONE corpus pass produces ``counts`` (callers do it —
    a partial-agg groupBy); everything here operates on the CELL table
    (|sources|×|langs| rows — group-sized), so iterations are free at
    any corpus size. Marginal sums are groupBys over cells; targets
    are broadcast dims.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    tot = counts.agg(
        F.sum(F.col("n").cast("long")).alias("_tot")
    )
    w = counts.crossJoin(F.broadcast(tot)).select(
        F.col("row_key"),
        F.col("col_key"),
        F.col("n").cast("long").alias("n"),
        F.expr("cast(n as bigint) * 1000000L div _tot").alias("n_micros"),
        F.lit(1_000_000).cast("long").alias("weight_micros"),
    )
    rt = F.broadcast(
        row_targets.select(
            F.col("row_key"),
            F.col("target_micros").cast("long").alias("_rt"),
        )
    )
    ct = F.broadcast(
        col_targets.select(
            F.col("col_key"),
            F.col("target_micros").cast("long").alias("_ct"),
        )
    )
    for _ in range(iters):
        rsum = w.groupBy("row_key").agg(
            F.sum(F.expr("n_micros * weight_micros")).alias("_rsum")
        )
        w = (
            w.join(rsum, "row_key")
            .join(rt, "row_key")
            .select(
                "row_key", "col_key", "n", "n_micros",
                F.expr(
                    "weight_micros * _rt"
                    " div greatest(_rsum div 1000000L, 1L)"
                ).alias("weight_micros"),
            )
        )
        csum = w.groupBy("col_key").agg(
            F.sum(F.expr("n_micros * weight_micros")).alias("_csum")
        )
        w = (
            w.join(csum, "col_key")
            .join(ct, "col_key")
            .select(
                "row_key", "col_key", "n", "n_micros",
                F.expr(
                    "weight_micros * _ct"
                    " div greatest(_csum div 1000000L, 1L)"
                ).alias("weight_micros"),
            )
        )
        # w feeds TWO consumers per half-pass (marginal sum + the
        # update join), so the unrolled plan doubles per half-pass —
        # 2^(2·iters) subtrees by iteration 6. Same cure as the k-core
        # peel (linkgraph.kcore_bounded): truncate lineage per round.
        w = w.localCheckpoint(eager=False)
    return w.select("row_key", "col_key", "n", "weight_micros")

def shard_mix_kl(
    df: DataFrame,
    shard_col: str,
    class_col: str,
) -> DataFrame:
    """Per-shard composition audit: KL divergence of each shard's
    class mix (language / source / domain) from the global mix —
    the shuffle-quality check run after shard assignment: a training
    run that streams shards sequentially sees non-stationary data
    exactly when these KLs are large (RefinedWeb/FineWeb shard specs
    pin this to ~0).

        KL(shard ‖ global) = Σ_c (n_sc/n_s) · ln((n_sc·N)/(n_s·N_c))

    Integer counts come from TWO partial-agg groupBys ((shard, class)
    and the two marginals — the class dim broadcasts, the shard
    marginal re-aggregates from the pair counts, so raw rows shuffle
    ONCE); the log expression is per-(shard, class) codegen floored to
    micros (q146's G² discipline — ln parity at micro precision is
    oracle-proven). Output: (shard, n_docs, kl_micros, max_class,
    max_class_frac_micros) — the divergence plus the dominant class
    for triage.
    """
    pair = df.groupBy(
        F.col(shard_col).alias("shard"), F.col(class_col).alias("cls")
    ).agg(F.count("*").cast("bigint").alias("n_sc"))
    shard_tot = pair.groupBy("shard").agg(
        F.sum("n_sc").alias("n_s")
    )
    cls_tot = pair.groupBy("cls").agg(F.sum("n_sc").alias("n_c"))
    n_tot = pair.agg(F.sum("n_sc").alias("n")).withColumn(
        "_one", F.lit(1)
    )
    terms = (
        pair.join(shard_tot, "shard")
        .join(F.broadcast(cls_tot), "cls")
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(n_tot), "_one")
        .withColumn(
            "_term",
            (F.col("n_sc").cast("double") / F.col("n_s"))
            * F.log(
                (F.col("n_sc").cast("double") * F.col("n"))
                / (F.col("n_s").cast("double") * F.col("n_c"))
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(
        F.desc("n_sc"), F.asc("cls")
    )
    dominant = (
        terms.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(
            "shard",
            F.col("cls").alias("max_class"),
            F.expr("n_sc * 1000000L div n_s").alias(
                "max_class_frac_micros"
            ),
        )
    )
    kl = terms.groupBy("shard").agg(
        F.max("n_s").alias("n_docs"),
        F.floor(F.lit(1e6) * F.sum("_term")).cast("bigint").alias(
            "kl_micros"
        ),
    )
    return kl.join(dominant, "shard").select(
        "shard", "n_docs", "kl_micros", "max_class",
        "max_class_frac_micros",
    )


def rendezvous_assign(df, key_col: str, shards: list[str],
                      out_col: str = "shard"):
    """RENDEZVOUS (highest-random-weight) hashing: each key goes to
    the shard maximizing ``md5(key || '|' || shard)`` — Thaler &
    Ravishankar 1996, the consistent-hashing scheme with EXACT
    engine portability (md5 argmax replays in any SQL engine, unlike
    ring or jump hashing's float/LCG loops). The property that makes
    it the resize story for sharded state (dedup indexes q106,
    frontier stores, embedding shards): adding a shard moves ONLY
    the keys the new shard wins — expected 1/(n+1) of them — while
    mod-N assignment (q193's static splitter) reshuffles nearly
    everything. Pair this with q352's before/after relation for the
    measured movement bound.

    Per-row codegen: a shard-sized literal array → transform to
    (digest, shard) structs → array_max; no explode, no shuffle, no
    Python."""
    from pyspark.sql import functions as F

    k = F.col(key_col)
    pairs = F.array(*[
        F.struct(
            F.md5(F.concat(k, F.lit("|" + s))).alias("d"),
            F.lit(s).alias("s"),
        )
        for s in shards
    ])
    return df.withColumn(out_col, F.array_max(pairs)["s"])
