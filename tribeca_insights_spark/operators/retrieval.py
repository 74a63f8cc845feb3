"""BM25 ranked retrieval over a document corpus — Spark-first.

Beyond-reference capability (task brief: LLM-data-pipeline operators):
the reference computes raw term frequencies for SEO reports
(tribeca_insights/analysis/keywords.py builds per-page and corpus TF
tables); production corpus tooling additionally needs *ranked*
retrieval — "find the documents most relevant to these terms" — for
curation audits, contamination triage, and eval-set mining. This is
the classic Okapi BM25 scorer expressed as pure DataFrame algebra.

Scale shape (10^12 docs):

- tokens are filtered to the query-term set BEFORE the explode, inside
  whole-stage codegen — the exploded stream is |hits|, not |tokens|
  (for a 3-term query that is orders of magnitude smaller than the
  corpus token stream);
- corpus stats (N, sum of lengths) are a 1-row aggregate, broadcast;
  document frequencies are a |terms|-row aggregate, broadcast — the
  only corpus-sized shuffle is the (doc, term) partial-agg count over
  matched terms;
- the final top-k is ``orderBy(...).limit(k)`` → Spark plans
  TakeOrderedAndProject (per-partition heaps + a k-row driver merge),
  NEVER a global sort or a single-partition window.

Determinism contract (mirrors operators/dsir.py): the per-(doc, term)
BM25 contribution is quantized to integer micros with ``floor(1e6·x)``
and the per-doc score is a sum of BIGINTs — aggregation-order-free, so
the DuckDB oracle matches bit-for-bit. All double math before the
quantization (ln / divisions / literal constants) is written in the
identical expression shape on both engines; inputs to every transcend-
ental are exact integers (+0.5 halves), the idiom q72's LLR weights
already proved hash-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
) -> DataFrame:
    """(doc_id, score_micros, n_terms_hit, dl): top-``topk`` documents
    by Okapi BM25 against ``query_terms``, whitespace tokenization.

        idf(t)  = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)   [Lucene form]
        tfw(d,t)= tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
        score   = Σ_t floor(1e6 · idf·tfw)   (integer micros)

    Documents with no query-term hit never enter the scored stream
    (BM25 gives them score 0; they cannot reach a positive top-k).
    Ties at the k boundary break on doc_id ascending.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
    base = docs.select(F.col("doc_id"), toks.alias("_t"))

    # 1-row corpus stats; broadcast onto the hit stream
    totals = base.select(F.size("_t").cast("long").alias("dl")).agg(
        F.count("*").alias("_n"), F.sum("dl").alias("_sumdl")
    )

    # dl rides along on the hit stream — no second corpus-sized join
    hits = base.select(
        "doc_id",
        F.size("_t").cast("long").alias("dl"),
        F.explode(
            F.filter(F.col("_t"), lambda w: w.isin(*query_terms))
        ).alias("term"),
    )
    # the one corpus-sized shuffle: (doc, term) counts, map-side combine
    tf = hits.groupBy("doc_id", "term").agg(
        F.count("*").alias("_tf"), F.first("dl").alias("dl")
    )
    # |terms|-row dim
    df_t = (
        hits.select("doc_id", "term").distinct()
        .groupBy("term").agg(F.count("*").alias("_df"))
    )

    avgdl = F.col("_sumdl").cast("double") / F.col("_n").cast("double")
    idf = F.log(
        (F.col("_n") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfw = (F.col("_tf") * F.lit(k1 + 1.0)) / (
        F.col("_tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
    )
    contrib = F.floor(F.lit(1e6) * (idf * tfw)).cast("long")

    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", "dl", contrib.alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("score_micros"),
            F.count("*").alias("n_terms_hit"),
            F.first("dl").alias("dl"),
        )
    )
    # TakeOrderedAndProject — never a global sort / unpartitioned window
    return scored.orderBy(
        F.desc("score_micros"), F.asc("doc_id")
    ).limit(topk)


def inverted_index(docs: DataFrame, block_size: int = 100) -> DataFrame:
    """(term, block, df_block, postings, gaps): blocked inverted index
    with gap-encoded posting lists — the search-index build step.

    Posting lists are sharded by doc-id range block
    (``block = floor(doc_id / block_size)``): at corpus scale one term's
    postings never have to fit in one task — each (term, block) cell is
    an independent partial list, naturally ordered for merge, and the
    groupBy key (term, block) spreads hot stopword-like terms across
    the cluster instead of funneling them to a single reducer (the
    classic skew kill for whole-term collect_list). ``gaps`` is the
    standard delta encoding (first entry absolute, then successive
    differences) — the form index compressors (VByte/PForDelta)
    consume; emitting it here proves the arrays are sorted.

    Plan: one distinct on (term, doc_id) + one partial-agg groupBy —
    two keyed shuffles, no window, no driver-side collection.
    """
    if block_size <= 0:
        raise ValueError("block_size must be positive")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
    hits = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(toks).alias("term"),
        )
        .distinct()
    )
    post = (
        hits.withColumn(
            "block", F.floor(F.col("doc_id") / F.lit(block_size))
        )
        .groupBy("term", "block")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("postings"))
    )
    p = F.col("postings")
    gaps = F.transform(
        F.sequence(F.lit(1), F.size(p)),
        lambda i: F.element_at(p, i)
        - F.when(i == 1, F.lit(0).cast("long"))
        .otherwise(F.element_at(p, i - 1)),
    )
    return post.select(
        "term",
        "block",
        F.size(p).cast("long").alias("df_block"),
        "postings",
        gaps.alias("gaps"),
    )

def positional_postings(docs: DataFrame) -> DataFrame:
    """(term, doc_id, pos) positional posting rows — the index form
    phrase and proximity queries need (inverted_index's doc-level
    postings can only answer bag-of-words queries).

    One ``posexplode`` over the whitespace token array: embarrassingly
    parallel, zero shuffle — materialize it partitioned/bucketed by
    ``term`` and every downstream phrase join is co-located.
    """
    toks = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(toks).alias("pos", "term"),
    ).select("term", "doc_id", "pos")


def phrase_search(docs: DataFrame, phrase: str) -> DataFrame:
    """Exact phrase matching via positional-posting self-joins — the
    classic search-engine phrase plan (Manning IR §2.4): the i-th
    phrase term's postings join the first term's on
    ``(doc_id, pos + i)``, so only documents containing EVERY term at
    CONSECUTIVE positions survive. Output: (doc_id, n_hits, first_pos)
    per matching document.

    Scale shape: the n-term phrase is (n−1) equi-joins on
    (term-filtered!) posting slices — each side is first cut to ONE
    term's postings (predicate pushdown reaches the scan when the
    posting table is term-partitioned), so the joins move only the
    phrase terms' rows, never the corpus. Rarest-term-first ordering
    and bigram indexes are the classic refinements; both compose here
    without changing the contract. No windows, no driver loops —
    n_hits/first_pos are one partial-agg groupBy.
    """
    terms = [t for t in phrase.split(" ") if t]
    if not terms:
        raise ValueError("phrase must contain at least one term")
    post = positional_postings(docs)
    hits = post.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("pos").alias("p0")
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = post.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - i).alias("p0")
        )
        hits = hits.join(nxt, ["doc_id", "p0"])
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_hits"),
        F.min("p0").cast("bigint").alias("first_pos"),
    )


def ranking_metrics(ranked: DataFrame, k: int = 10) -> DataFrame:
    """Per-query ranking quality — MRR, precision@k, nDCG@k — over any
    (query, rank, relevance) table (BM25 q114, hybrid rerank, ANN
    q184's recall companion). The offline-eval primitive next to
    q154's ROC-AUC (classification) and q184's ANN recall
    (candidate-set quality): this one scores the ORDER.

        DCG@k  = Σ_{i≤k} rel_i / ln(i + 1)
        nDCG@k = DCG@k / IDCG@k   (ideal = rels sorted desc)

    DCG uses the NATURAL log (nats-scaled DCG): nDCG is a ratio, so
    the base cancels and matches the textbook log2 value exactly,
    while ln keeps the q146-proven cross-engine float-parity
    discipline (log2 is one more libm call to disagree on).

    Shape: every statistic is a query-partitioned aggregation or
    window over the RANKED table (≤ k·queries rows when the input is
    already top-k — bounded, never corpus-sized). The ln terms floor
    to micros (q146 discipline). Zero-relevant queries
    yield NULL mrr/ndcg rather than 0/0. Output: (query_id, n_ranked,
    n_rel, mrr_micros, p_at_k_micros, dcg_micros, idcg_micros,
    ndcg_micros).
    """
    from pyspark.sql import Window

    r = ranked.select(
        F.col("query_id").alias("q"),
        F.col("rank").cast("int").alias("rank"),
        F.col("rel").cast("bigint").alias("rel"),
    )
    gain = F.col("rel").cast("double") / F.log(F.col("rank") + 1)
    base = r.groupBy("q").agg(
        F.count("*").cast("bigint").alias("n_ranked"),
        F.sum((F.col("rel") > 0).cast("bigint")).alias("n_rel"),
        F.min(
            F.when(F.col("rel") > 0, F.col("rank"))
        ).alias("_first_rel"),
        F.sum(
            F.when(
                (F.col("rank") <= k) & (F.col("rel") > 0), F.lit(1)
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("_hits_k"),
        F.floor(
            F.lit(1e6)
            * F.sum(F.when(F.col("rank") <= k, gain).otherwise(F.lit(0.0)))
        ).cast("bigint").alias("dcg_micros"),
    )
    iw = Window.partitionBy("q").orderBy(
        F.desc("rel"), F.asc("rank")
    )
    ideal = (
        r.withColumn("_ir", F.row_number().over(iw))
        .filter(F.col("_ir") <= k)
        .groupBy("q")
        .agg(
            F.floor(
                F.lit(1e6)
                * F.sum(
                    F.col("rel").cast("double")
                    / F.log(F.col("_ir") + 1)
                )
            ).cast("bigint").alias("idcg_micros")
        )
    )
    return (
        base.join(ideal, "q")
        .select(
            F.col("q").alias("query_id"),
            "n_ranked",
            "n_rel",
            F.when(
                F.col("_first_rel").isNotNull(),
                F.expr("1000000 div _first_rel").cast("bigint"),
            ).alias("mrr_micros"),
            F.expr(f"_hits_k * 1000000L div {int(k)}").alias(
                "p_at_k_micros"
            ),
            "dcg_micros",
            "idcg_micros",
            F.when(
                F.col("idcg_micros") > 0,
                F.expr("dcg_micros * 1000000L div idcg_micros"),
            ).alias("ndcg_micros"),
        )
    )


def bm25f_topk(
    docs: DataFrame,
    query_terms: list[str],
    fields: dict[str, tuple[float, float]] | None = None,
    k1: float = 1.2,
    topk: int = 20,
) -> DataFrame:
    """BM25F fielded ranking (Robertson & Zaragoza's simple-BM25F —
    the web-search standard where a title hit outweighs a body hit
    WITHOUT double-counting idf): ``fields`` maps column → (weight
    w_f, length-norm b_f); per-field normalized term frequencies

        tfn_f(d,t) = w_f · tf_f / (1 − b_f + b_f · dl_f/avgdl_f)

    are SUMMED across fields into one pseudo-frequency, then scored
    once per term: ``score = Σ_t floor(1e6 · idf(t) ·
    tfn/(k1+tfn))`` with the Lucene idf over documents matching in
    ANY field. Anchor-text ranking (q85/q260) plugs in as a third
    field — the Robertson AND-of-fields insight is exactly why
    anchors shouldn't be scored as a separate BM25 and added.

    Shape: per-field hit streams (query-filtered BEFORE the explode,
    hit stream ≪ token stream) union → one (doc, field, term) partial
    agg → per-field 1-row avgdl dims broadcast → per-(doc,term) sum →
    per-doc sum; top-k plans as TakeOrderedAndProject, never a global
    sort. Integer-micros contributions keep the per-doc sum
    aggregation-order-free (q114 discipline)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if fields is None:
        fields = {"title": (2.0, 0.5), "text": (1.0, 0.75)}

    hit_parts = []
    len_parts = []
    for col, (_w, _b) in fields.items():
        # coalesce first: a NULL field makes F.size return -1 under
        # legacy semantics, feeding dl=-1 rows into the per-field
        # avgdl stats and skewing normalization for every document
        toks = F.filter(F.split(F.coalesce(F.col(col), F.lit("")),
                                " "),
                        lambda w: F.length(w) > 0)
        base = docs.select(F.col("doc_id"),
                           toks.alias("_t"))
        len_parts.append(base.select(
            F.lit(col).alias("field"),
            F.size("_t").cast("long").alias("dl"),
        ))
        hit_parts.append(base.select(
            "doc_id",
            F.lit(col).alias("field"),
            F.size("_t").cast("long").alias("dl"),
            F.explode(
                F.filter(F.col("_t"), lambda w: w.isin(*query_terms))
            ).alias("term"),
        ))
    hits = hit_parts[0]
    for p in hit_parts[1:]:
        hits = hits.unionByName(p)
    lens = len_parts[0]
    for p in len_parts[1:]:
        lens = lens.unionByName(p)

    # per-field corpus stats: |fields|-row dim, broadcast
    stats = lens.groupBy("field").agg(
        F.count("*").alias("_n"), F.sum("dl").alias("_sumdl")
    )
    tf = hits.groupBy("doc_id", "field", "term").agg(
        F.count("*").alias("_tf"), F.first("dl").alias("dl")
    )
    df_t = (
        hits.select("doc_id", "term").distinct()
        .groupBy("term").agg(F.count("*").alias("_df"))
    )
    n_docs = docs.select(F.count("*").alias("_nd"))

    avgdl = F.col("_sumdl").cast("double") / F.col("_n").cast("double")
    w_expr = None
    b_expr = None
    for col, (w_f, b_f) in fields.items():
        w_expr = (F.when(F.col("field") == col, F.lit(float(w_f)))
                  if w_expr is None
                  else w_expr.when(F.col("field") == col,
                                   F.lit(float(w_f))))
        b_expr = (F.when(F.col("field") == col, F.lit(float(b_f)))
                  if b_expr is None
                  else b_expr.when(F.col("field") == col,
                                   F.lit(float(b_f))))
    tfn = (w_expr * F.col("_tf").cast("double")) / (
        F.lit(1.0) - b_expr
        + b_expr * (F.col("dl").cast("double") / avgdl)
    )
    per_term = (
        tf.join(F.broadcast(stats), "field")
        .select("doc_id", "term", tfn.alias("_tfn"))
        .groupBy("doc_id", "term")
        .agg(F.sum("_tfn").alias("_tft"))
    )
    idf = F.log(
        (F.col("_nd") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = (
        per_term.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.floor(
                F.lit(1e6) * idf
                * (F.col("_tft") / (F.lit(float(k1)) + F.col("_tft")))
            ).cast("bigint").alias("_c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("_c").cast("bigint").alias("score_micros"),
            F.count("*").cast("bigint").alias("n_terms_hit"),
        )
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(int(topk))
    )
