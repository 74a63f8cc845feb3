"""Term-frequency & report aggregations (SURVEY.md §2.3 R3-R7, R14-R16).

All native DataFrame ops — partial (map-side) aggregation, whole-stage
codegen, AQE-coalesced shuffles come free. Scale notes per operator:

* ``corpus_tf`` — ``explode → groupBy(word).count``, one shuffle. Tokens
  are Zipfian, but the count's map-side partial ``HashAggregate`` reduces
  each map task's rows for a word to one record before the exchange, so a
  hot word's reducer fan-in is bounded by the number of map tasks. A salt
  column would only add records, a second exchange and a second aggregate.
  (The reference concat-then-Counter at crawler.py:275 is
  distribution-equivalent: tokens never span the " " join glue — SURVEY §R4.)
* ``domain_top_keywords`` — per-domain keyword report (north_star): the
  domain is parsed once per page, before the explode; one partial+final
  count on (domain, word); then a ``row_number`` top-k. Spark plans a
  partial ``WindowGroupLimit`` below the ``hashpartitioning(domain)``
  exchange, so a skewed domain (one site = 40% of a crawl) sends at most
  ``k`` rows per map partition into the window.

Salting stays where no map-side combine exists: ``joins.salted_skew_join``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def domain_col(url_col="url"):
    """Hostname, e.g. per-domain grouping key (native parse_url)."""
    return F.parse_url(F.col(url_col), F.lit("HOST"))


def exploded_tokens(extracted: DataFrame, extra_cols=()) -> DataFrame:
    """(url, word) long format — the distributed TF representation.

    If the input already carries a ``tokens`` array (parity/page_data path)
    it is exploded; otherwise tokens are derived from (text, lang) via the
    flat codegen-friendly path (functions/tokenize.exploded_words), which is
    the fast choice for TF-only pipelines."""
    from ..functions.tokenize import exploded_words

    cols = ["url", *extra_cols]
    if "tokens_str" in extracted.columns:
        # literal-delimiter split: codegen-friendly, no regex; empty pages
        # produce [''] which the length filter drops
        return (
            extracted.select(
                *cols, F.explode(F.split("tokens_str", " ", -1)).alias("word")
            ).filter(F.length("word") > 0)
        )
    if "tokens" in extracted.columns:
        return extracted.select(*cols, F.explode("tokens").alias("word"))
    return exploded_words(extracted, extra_cols=cols).select(*cols, "word")


def corpus_tf(extracted: DataFrame, n_salts: int = 0) -> DataFrame:
    """Global (word, freq) desc — reference keyword_frequency table
    (exporters/csv.py:40-53). One shuffle; ``n_salts`` is accepted and
    ignored (partial aggregation already bounds a hot word's fan-in)."""
    return (
        exploded_tokens(extracted)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "word")
    )


def merge_tf(existing: DataFrame, new: DataFrame) -> DataFrame:
    """Legacy TF merge (scripts/main.py:436-445): Counter union."""
    return (
        existing.unionByName(new)
        .groupBy("word")
        .agg(F.sum("freq").alias("freq"))
        .orderBy(F.desc("freq"), "word")
    )


def doc_frequency(extracted: DataFrame) -> DataFrame:
    """(word, n_docs): distinct per doc then count — classic DF table."""
    return (
        exploded_tokens(extracted)
        .dropDuplicates(["url", "word"])
        .groupBy("word")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "word")
    )


def domain_top_keywords(
    extracted: DataFrame, k: int = 10, n_salts: int = 0
) -> DataFrame:
    """Per-domain keyword top-k report (north_star). The domain is parsed
    once per page, one count on (domain, word), then a window top-k whose
    partial ``WindowGroupLimit`` bounds a hot domain's rows into the window
    exchange. ``n_salts`` is accepted and ignored."""
    pages = extracted.withColumn("domain", domain_col())
    counts = (
        exploded_tokens(pages, extra_cols=("domain",))
        .groupBy("domain", "word")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("domain").orderBy(F.desc("freq"), "word")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("domain", "rank")
    )


def tf_idf(extracted: DataFrame, min_df: int = 1) -> DataFrame:
    """Per-(url, word) TF-IDF: ``tf × ln(N / df)``.

    Three aggregations, one broadcast: per-doc TF (shuffle on url,word),
    document frequency (reuses the same exploded input), and the scalar
    doc count N joined in as a literal via crossJoin of a 1-row DataFrame
    (broadcast — no shuffle). df table is |vocab|-sized → broadcast join
    back onto TF, so the big TF table never reshuffles."""
    words = exploded_tokens(extracted)
    # scalar N stays in the dataflow: a 1-row aggregate broadcast in via
    # crossJoin — no separate driver-side count job over the corpus
    ndf = (
        extracted.select("url")
        .distinct()
        .agg(F.count("*").cast("double").alias("_n_docs"))
    )
    tf = words.groupBy("url", "word").agg(F.count("*").alias("tf"))
    df = (
        words.dropDuplicates(["url", "word"])
        .groupBy("word")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    return (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(ndf))
        .select(
            "url",
            "word",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("_n_docs") / F.col("df"))).alias(
                "tf_idf"
            ),
        )
    )


def bigram_tf(extracted: DataFrame, k: int | None = None) -> DataFrame:
    """Corpus bigram counts from per-page token arrays — the n-gram
    generalization of corpus TF. Bigrams are built per-row with array ops
    (zip tokens with its own tail — no shuffle until the count), so pages
    never explode into quadratic join work."""
    if "tokens" in extracted.columns:
        toks = extracted.select("url", "tokens")
    elif "tokens_str" in extracted.columns:
        # order-preserving per-row split — never collect_list after a
        # shuffle, whose order is nondeterministic
        toks = extracted.select(
            "url",
            F.filter(
                F.split("tokens_str", " ", -1), lambda t: F.length(t) > 0
            ).alias("tokens"),
        )
    else:
        from ..functions.tokenize import with_tokens

        toks = with_tokens(extracted).select("url", "tokens")
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("tokens"), 1, F.greatest(F.size("tokens") - 1, F.lit(0))),
                F.slice(F.col("tokens"), 2, F.greatest(F.size("tokens") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    out = (
        pairs.groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "bigram")
    )
    return out.limit(k) if k else out


def external_urls_global(extracted: DataFrame) -> DataFrame:
    """Global sorted distinct external links — reference external_urls sink
    (exporters/json.py:61-81): explode → distinct → orderBy."""
    return (
        extracted.select(F.explode("external_links").alias("ext_url"))
        .distinct()
        .orderBy("ext_url")
    )


def link_counts(extracted: DataFrame) -> DataFrame:
    """Per-page internal/external link counts (north_star)."""
    return extracted.select(
        "url",
        F.size("external_links").alias("n_external"),
        F.size("internal_links").alias("n_internal"),
        F.size("images").alias("n_images"),
        F.size("headings").alias("n_headings"),
    )


def index_entries(extracted: DataFrame) -> DataFrame:
    """index.json projection {slug, title, md_filename} (json.py:40-58)."""
    return extracted.select(
        "slug", "title", F.concat(F.col("slug"), F.lit(".md")).alias("md_filename")
    )


def merge_pages_by_slug(pages: DataFrame, order_col: str = "warc_ts") -> DataFrame:
    """Project-JSON merge-by-slug, last-wins (json.py:197-201) as a
    window dedup: row_number over slug ordered by recency desc."""
    w = Window.partitionBy("slug").orderBy(F.desc(order_col), F.desc("url"))
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def pmi_collocations(
    extracted: DataFrame,
    min_count: int = 5,
    k: int | None = None,
) -> DataFrame:
    """Pointwise-mutual-information collocation mining over the corpus
    (Church & Hanks 1990): for every adjacent token pair,
    ``pmi = ln( (c_ab / N_bi) / ((c_a / N_uni) · (c_b / N_uni)) )`` —
    the classic "which word pairs stick together" statistic, used in
    curation to spot boilerplate collocations and machine-generated
    phrase farms (unnaturally PMI-flat text). Output: ``(w1, w2, c_ab,
    c_a, c_b, pmi_micros = floor(1e6·pmi))``, ``c_ab >= min_count``,
    ordered pmi desc then lexicographic.

    Beyond-reference capability (reference stops at raw TF; q43 counts
    bigrams, this normalizes them into an association score).

    Scale shape (100 TB): bigrams build per-row with zip_with (no
    shuffle until the count — the :func:`bigram_tf` discipline); unigram
    and bigram counts are map-combined partial aggs; the PMI join keys
    on w1/w2 against the VOCABULARY-sized unigram table (words, not
    documents — Heaps' law keeps it ≪ corpus), and totals ride in as
    broadcast 1-row scalars. ``floor(1e6·ln(...))`` keeps the score an
    integer (the q73 idiom), so ordering and oracle comparison are
    exact. Top-k (``k``) is TakeOrderedAndProject, never a global sort.
    """
    if "tokens" in extracted.columns:
        toks = extracted.select("tokens")
    else:
        from ..functions.tokenize import with_tokens

        toks = with_tokens(extracted).select("tokens")
    uni = (
        toks.select(F.explode("tokens").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("_n_uni"))
    big = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice(
                        F.col("tokens"),
                        1,
                        F.greatest(F.size("tokens") - 1, F.lit(0)),
                    ),
                    F.slice(
                        F.col("tokens"),
                        2,
                        F.greatest(F.size("tokens") - 1, F.lit(0)),
                    ),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    n_bi = big.agg(F.sum("c_ab").alias("_n_bi"))
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    out = (
        big.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            F.floor(
                F.lit(1_000_000)
                * F.log(
                    (F.col("c_ab") / F.col("_n_bi"))
                    / (
                        (F.col("c_a") / F.col("_n_uni"))
                        * (F.col("c_b") / F.col("_n_uni"))
                    )
                )
            )
            .cast("long")
            .alias("pmi_micros"),
        )
        .orderBy(F.desc("pmi_micros"), "w1", "w2")
    )
    return out.limit(k) if k else out
