"""Tokenize/TF, tf-idf, BM25(F), inverted index, keyword/collocation mining.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


@q(
    "q09_index_entries",
    """
    SELECT 'docs-' || doc_id AS slug,
           'Doc ' || doc_id AS title,
           'docs-' || doc_id || '.md' AS md_filename
    FROM documents
    """,
)
def q09_index_entries(spark, sf_dir):
    return tfops.index_entries(_extracted(spark, sf_dir))


@q(
    "q03_corpus_tf",
    _TOKENS_CTE
    + "SELECT word, count(*) AS freq FROM words GROUP BY word ORDER BY freq DESC, word",
)
def q03_corpus_tf(spark, sf_dir):
    t = _tokens_df(spark, sf_dir)
    return (
        t.select(F.explode("tokens").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "word")
    )


@q(
    "q04_doc_frequency",
    _TOKENS_CTE
    + """
    SELECT word, count(DISTINCT doc_id) AS n_docs
    FROM words GROUP BY word ORDER BY n_docs DESC, word
    """,
)
def q04_doc_frequency(spark, sf_dir):
    t = _tokens_df(spark, sf_dir)
    return (
        t.select("doc_id", F.explode("tokens").alias("word"))
        .dropDuplicates(["doc_id", "word"])
        .groupBy("word")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "word")
    )


@q(
    "q05_word_count_per_doc",
    _TOKENS_CTE
    + """
    SELECT d.doc_id, count(w.word) AS word_count
    FROM documents d LEFT JOIN words w ON d.doc_id = w.doc_id
    GROUP BY d.doc_id
    """,
)
def q05_word_count_per_doc(spark, sf_dir):
    t = _tokens_df(spark, sf_dir)
    return t.select("doc_id", F.size("tokens").cast("bigint").alias("word_count"))


@q(
    "q06_top5_words_per_doc",
    _TOKENS_CTE
    + """
    , tf AS (
      SELECT doc_id, word, count(*) AS freq FROM words GROUP BY doc_id, word
    )
    SELECT doc_id, word, freq, rank FROM (
      SELECT doc_id, word, freq,
             row_number() OVER (PARTITION BY doc_id ORDER BY freq DESC, word) AS rank
      FROM tf
    ) WHERE rank <= 5
    """,
)
def q06_top5_words_per_doc(spark, sf_dir):
    t = _tokens_df(spark, sf_dir)
    tf = (
        t.select("doc_id", F.explode("tokens").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("freq"), "word")
    return (
        tf.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)
    )


@q(
    "q07_source_top_keywords",
    _TOKENS_CTE
    + """
    , tf AS (
      SELECT source, word, count(*) AS freq FROM words GROUP BY source, word
    )
    SELECT source, word, freq, rank FROM (
      SELECT source, word, freq,
             row_number() OVER (PARTITION BY source ORDER BY freq DESC, word) AS rank
      FROM tf
    ) WHERE rank <= 10
    """,
)
def q07_source_top_keywords(spark, sf_dir):
    """Per-'domain' keyword report: one count on (source, word), then a
    window top-k — the skew bounds of ``tf.domain_top_keywords``."""
    t = _tokens_df(spark, sf_dir)
    words = t.select("source", F.explode("tokens").alias("word"))
    counts = words.groupBy("source", "word").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("source").orderBy(F.desc("freq"), "word")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )


# --- TF merge + rollup (SURVEY §2.3 R5; §2.4 grouping-sets extension) -------

@q(
    "q37_merge_tf",
    _TOKENS_CTE
    + """
    , a AS (SELECT word, count(*) AS freq FROM words WHERE doc_id % 2 = 0 GROUP BY word)
    , b AS (SELECT word, count(*) AS freq FROM words WHERE doc_id % 2 = 1 GROUP BY word)
    SELECT word, CAST(sum(freq) AS BIGINT) AS freq FROM (
      SELECT * FROM a UNION ALL SELECT * FROM b
    ) GROUP BY word ORDER BY freq DESC, word
    """,
)
def q37_merge_tf(spark, sf_dir):
    """Legacy Counter-union TF merge (scripts/main.py:436-445): two runs'
    keyword tables unioned and re-summed — the incremental-crawl TF update."""
    t = _tokens_df(spark, sf_dir).withColumn("url", F.col("doc_id").cast("string"))
    a = tfops.corpus_tf(t.filter(F.col("doc_id") % 2 == 0))
    b = tfops.corpus_tf(t.filter(F.col("doc_id") % 2 == 1))
    return tfops.merge_tf(a, b)


@q(
    "q42_tf_idf",
    _TOKENS_CTE
    + """
    , tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word)
    , dfr AS (SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word)
    , n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
    SELECT tf.doc_id, tf.word, tf.tf, dfr.df,
           round(tf.tf * ln(n.n / CAST(dfr.df AS DOUBLE)), 6) AS tf_idf
    FROM tf JOIN dfr USING (word) CROSS JOIN n
    """,
)
def q42_tf_idf(spark, sf_dir):
    """Per-document TF-IDF (tf × ln(N/df)) — broadcast df-dim join, the
    big TF table never reshuffles."""
    t = _tokens_df(spark, sf_dir).withColumn("url", F.col("doc_id"))
    out = tfops.tf_idf(t)
    return out.select(
        F.col("url").alias("doc_id"), "word", "tf", "df",
        F.round("tf_idf", 6).alias("tf_idf"),
    )


@q(
    "q51_corpus_tf_full_stopwords",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split(lower(trim(regexp_replace({_EXPECTED_TEXT},
                    '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' ')) AS word
      FROM documents
    ), words AS (
      SELECT word FROM toks
      WHERE length(word) >= 2
      {_sql_stop_clause('en')}{_sql_stop_clause('es')}{_sql_stop_clause('fr')}{_sql_stop_clause('de')}{_sql_stop_clause('zh')}
    )
    SELECT word, count(*) AS freq FROM words
    GROUP BY word ORDER BY freq DESC, word
    """,
)
def q51_corpus_tf_full_stopwords(spark, sf_dir):
    """Corpus TF through the extraction UDF with the ``nltk`` stopword
    profile (full vendored per-language NLTK corpus lists — the reference's
    corpora-present primary path, text_utils.py:75-96), exercising the
    profile threading end-to-end: parse → tokenize(profile) → explode →
    count. Languages without a list (zh) degrade to the reference's
    fallback-or-empty rule."""
    from ..operators.extract import extract_token_strings

    docs = documents_as_pages(spark, sf_dir)
    t = extract_token_strings(docs, profile="nltk")
    words = t.select(
        F.explode(F.split("tokens_str", " ", -1)).alias("word")
    ).filter(F.length("word") > 0)
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "word")
    )


@q(
    "q52_legacy_tf",
    f"""
    WITH words AS (
      SELECT unnest(list_filter(
        string_split(lower(trim(regexp_replace(
          regexp_replace(text, '[^a-zA-Z\\s]', '', 'g'), '\\s+', ' ', 'g'
        ))), ' '),
        w -> length(w) > 2
             AND w NOT IN ({_sql_quoted_stoplist('english')}))) AS word
      FROM documents
    )
    SELECT word, count(*) AS freq FROM words
    GROUP BY word ORDER BY freq DESC, word
    """,
)
def q52_legacy_tf(spark, sf_dir):
    """Corpus TF under the LEGACY tokenizer profile (scripts/main.py:91-97:
    non-letters deleted in place so fragments join, len>2, english NLTK
    stopword list for every doc) — completes the SURVEY §2.5 tokenizer
    surface. Fully JVM-side: regexp chain + higher-order filter against an
    inline stopword array literal."""
    from ..functions.stopwords import get_stopwords
    from ..functions.tokenize import legacy_tokens_col

    stops = F.array(
        *[F.lit(w) for w in sorted(get_stopwords("english", "nltk"))]
    )
    d = _read(spark, sf_dir, "documents")
    words = d.select(
        F.explode(legacy_tokens_col(F.col("text"), stops)).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "word")
    )


@q(
    "q85_anchor_texts",
    """
    WITH pairs AS (
      SELECT 'https://nav.example.net/x' AS target, 'navlink' AS anchor
      FROM documents
      UNION ALL
      SELECT 'https://' || source || '.example.com/about/' || doc_id,
             'about' FROM documents
      UNION ALL
      SELECT 'https://ext' || (doc_id % 5) || '.example.org/page', 'ext'
      FROM documents
    )
    SELECT target, CAST(count(*) AS BIGINT) AS n_refs,
           CAST(count(DISTINCT anchor) AS BIGINT) AS n_distinct_anchors,
           min(anchor) AS first_anchor
    FROM pairs GROUP BY target
    """,
)
def q85_anchor_texts(spark, sf_dir):
    """Anchor-text aggregation (operators/linkgraph.py anchor_pairs →
    anchor_text_stats): Arrow-batched anchor parse (htmlx/anchors.py, a
    standalone walker — the byte-parity extractor is untouched), codegen
    href resolution, groupBy(target) with partial-aggregable outputs.
    The oracle states the synthesized pages' full link inventory
    (nav/about/ext) in closed form."""
    from ..operators.linkgraph import anchor_pairs, anchor_text_stats

    docs = documents_as_pages(spark, sf_dir)
    return anchor_text_stats(anchor_pairs(docs))


@q(
    "q114_bm25_topk",
    """
    WITH base AS (
      SELECT doc_id, list_filter(string_split(text, ' '),
                                 w -> length(w) > 0) AS t
      FROM documents
    ), totals AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(len(t)) AS BIGINT) AS sumdl
      FROM base
    ), hits AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
             unnest(list_filter(t, w -> w IN ('dup', 'join', 'window')))
               AS term
      FROM base
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
             min(dl) AS dl
      FROM hits GROUP BY doc_id, term
    ), dft AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM hits GROUP BY term
    ), contrib AS (
      SELECT doc_id, dl,
             CAST(floor(1e6 * (
               ln((n - df + 0.5) / (df + 0.5) + 1.0)
               * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75
                    * (CAST(dl AS DOUBLE)
                       / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
             )) AS BIGINT) AS c
      FROM tf JOIN dft USING (term), totals
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_micros,
           CAST(count(*) AS BIGINT) AS n_terms_hit, min(dl) AS dl
    FROM contrib GROUP BY doc_id
    ORDER BY score_micros DESC, doc_id LIMIT 20
    """,
)
def q114_bm25_topk(spark, sf_dir):
    """Okapi BM25 ranked retrieval (operators/retrieval.py) for the
    3-term query (dup, join, window) — 'dup' is ~35× rarer than 'join'
    in the synthetic vocabulary, so the idf spread is real. Tokens are
    filtered to the query terms before the explode (hit stream ≪ token
    stream); corpus stats and DF are broadcast 1-row / |terms|-row
    dims; top-k plans as TakeOrderedAndProject, never a global sort.
    Per-(doc,term) contributions quantized to integer micros (the q72
    LLR idiom) so the BIGINT per-doc sum is aggregation-order-free."""
    from ..operators.retrieval import bm25_topk

    docs = _read(spark, sf_dir, "documents")
    return bm25_topk(docs, ["dup", "join", "window"], topk=20)


@q(
    "q119_inverted_index",
    """
    WITH h AS (
      SELECT DISTINCT term, doc_id FROM (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          w -> length(w) > 0)) AS term
        FROM documents)
    ), g AS (
      SELECT term, CAST(floor(doc_id / 100.0) AS BIGINT) AS block,
             list(doc_id ORDER BY doc_id) AS postings
      FROM h GROUP BY 1, 2
    )
    SELECT term, block, CAST(len(postings) AS BIGINT) AS df_block,
           array_to_string(postings, ',') AS postings,
           array_to_string(list_transform(range(1, len(postings) + 1),
             i -> postings[i]
                  - CASE WHEN i = 1 THEN 0 ELSE postings[i - 1] END), ',')
             AS gaps
    FROM g
    """,
)
def q119_inverted_index(spark, sf_dir):
    """Blocked inverted index with gap-encoded postings
    (operators/retrieval.py:inverted_index): posting lists sharded by
    doc-id range so hot terms never funnel into one reducer; deltas in
    the compressor-ready form. Two keyed shuffles, no window. The
    ``postings``/``gaps`` arrays come out comma-joined, so every output
    column is a scalar."""
    from ..operators.retrieval import inverted_index

    idx = inverted_index(_read(spark, sf_dir, "documents"), block_size=100)
    return idx.select(
        "term", "block", "df_block",
        *[F.array_join(F.col(c).cast("array<string>"), ",").alias(c)
          for c in ("postings", "gaps")],
    )


@q(
    "q146_keyness_g2",
    """
    WITH w AS (
      SELECT source AS grp, unnest(list_filter(
               string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               x -> length(x) > 0)) AS w
      FROM documents
    ),
    a AS (SELECT grp, w, count(*) AS a FROM w GROUP BY grp, w),
    wt AS (SELECT w, sum(a) AS wt FROM a GROUP BY w),
    st AS (SELECT grp, sum(a) AS st FROM a GROUP BY grp),
    n AS (SELECT sum(a) AS N FROM a),
    s AS (
      SELECT grp, w, a, wt - a AS b, wt, st, N,
             CAST(floor(1e6 * (2 * (
               a * ln(CAST(a * N AS DOUBLE) / (wt * st))
               + CASE WHEN wt - a > 0 THEN
                   (wt - a) * ln(CAST((wt - a) * N AS DOUBLE)
                                 / (wt * (N - st)))
                 ELSE 0 END))) AS BIGINT) AS g2_micros
      FROM a JOIN wt USING (w) JOIN st USING (grp) CROSS JOIN n
    ),
    r AS (
      SELECT grp, w, a, b, g2_micros,
             row_number() OVER (PARTITION BY grp
                                ORDER BY g2_micros DESC, w) AS rank
      FROM s
    )
    SELECT grp AS source, w AS word, CAST(a AS BIGINT) AS n_in,
           CAST(b AS BIGINT) AS n_out, g2_micros,
           CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def q146_keyness_g2(spark, sf_dir):
    """Top-5 keyness terms per source by Dunning's log-likelihood G²
    (operators/textstats.py:keyness_g2) — what makes each source
    DIFFERENT from the rest of the corpus, where the reference's raw-TF
    keyword report surfaces corpus-common words. Vocabulary-sized aggs,
    broadcast group totals, per-term micros floored before the
    group-partitioned rank window."""
    from ..operators.textstats import keyness_g2

    return keyness_g2(_read(spark, sf_dir, "documents"),
                      topk=5)


@q(
    "q153_pmi_collocations",
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
    ),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w
    ),
    nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
    big AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM (SELECT toks, unnest(range(1, greatest(len(toks), 1))) AS i
            FROM base)
      GROUP BY 1, 2 HAVING count(*) >= 5
    ),
    nb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bi FROM big)
    SELECT w1, w2, c_ab, ua.c AS c_a, ub.c AS c_b,
           CAST(floor(1000000 * ln((c_ab / n_bi)
                / ((ua.c / n_uni) * (ub.c / n_uni)))) AS BIGINT)
             AS pmi_micros
    FROM big
    JOIN uni ua ON big.w1 = ua.w
    JOIN uni ub ON big.w2 = ub.w
    CROSS JOIN nu CROSS JOIN nb
    ORDER BY pmi_micros DESC, w1, w2
    """,
)
def q153_pmi_collocations(spark, sf_dir):
    """PMI collocation mining (operators/tf.py:pmi_collocations; Church
    & Hanks 1990): every adjacent token pair scored by pointwise mutual
    information, min_count=5 — the boilerplate-collocation / phrase-farm
    detector built on q43's shuffle-free zip_with bigrams. The unigram
    join keys on VOCABULARY-sized tables (Heaps' law ≪ corpus); corpus
    totals ride in as broadcast 1-row scalars; floor(1e6·ln(...)) keeps
    the score integer-exact (the q73 idiom) so the oracle hash-matches
    bit-for-bit."""
    from ..operators.tf import pmi_collocations

    return pmi_collocations(_tokens_df(spark, sf_dir), min_count=5)


@q(
    "q165_textrank",
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
    ),
    p AS (
      SELECT toks[i] AS a, toks[i + 1] AS b
      FROM (SELECT toks, unnest(range(1, greatest(len(toks), 1))) AS i
            FROM base)
    ),
    e AS (SELECT a AS src, b AS dst FROM p
          UNION ALL SELECT b, a FROM p),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM e GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM e
              UNION SELECT DISTINCT dst FROM e),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM nodes),
    c1 AS (SELECT dst, CAST(sum(s // outdeg) AS BIGINT) AS c
           FROM e JOIN deg USING (src) JOIN r0 ON e.src = r0.node
           GROUP BY dst),
    r1 AS (SELECT n.node,
                  CAST(150000 + (85 * coalesce(c, 0)) // 100 AS BIGINT)
                    AS s
           FROM nodes n LEFT JOIN c1 ON n.node = c1.dst),
    c2 AS (SELECT dst, CAST(sum(s // outdeg) AS BIGINT) AS c
           FROM e JOIN deg USING (src) JOIN r1 ON e.src = r1.node
           GROUP BY dst),
    r2 AS (SELECT n.node,
                  CAST(150000 + (85 * coalesce(c, 0)) // 100 AS BIGINT)
                    AS s
           FROM nodes n LEFT JOIN c2 ON n.node = c2.dst),
    c3 AS (SELECT dst, CAST(sum(s // outdeg) AS BIGINT) AS c
           FROM e JOIN deg USING (src) JOIN r2 ON e.src = r2.node
           GROUP BY dst),
    r3 AS (SELECT n.node,
                  CAST(150000 + (85 * coalesce(c, 0)) // 100 AS BIGINT)
                    AS s
           FROM nodes n LEFT JOIN c3 ON n.node = c3.dst)
    SELECT node AS word, s AS rank_micros
    FROM r3 ORDER BY s DESC, word LIMIT 30
    """,
)
def q165_textrank(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the corpus word-adjacency graph (undirected = both directions,
    multi-edges weighted by co-occurrence multiplicity), top-30 words —
    the graph-centrality upgrade of raw-TF keyword reports, composed
    entirely from shipped machinery: q43's shuffle-free zip_with
    bigrams feed operators/linkgraph.py:pagerank_micros' integer-exact
    damped recurrence (floor division each step → bit-stable under any
    partitioning; the ORACLE unrolls the identical 3 rounds). The graph
    is VOCABULARY-sized — joins and aggs never touch corpus-row
    cardinality after the bigram count; top-k plans as
    TakeOrderedAndProject."""
    from ..operators.linkgraph import pagerank_micros

    toks = _tokens_df(spark, sf_dir).select("tokens")
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(
                    F.col("tokens"), 1,
                    F.greatest(F.size("tokens") - 1, F.lit(0)),
                ),
                F.slice(
                    F.col("tokens"), 2,
                    F.greatest(F.size("tokens") - 1, F.lit(0)),
                ),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pr = pagerank_micros(edges, n_iter=3)
    return (
        pr.select(F.col("node").alias("word"), "rank_micros")
        .orderBy(F.desc("rank_micros"), "word")
        .limit(30)
    )


@q(
    "q172_rake_keywords",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(lower(trim(regexp_replace(
               text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0) AS toks
      FROM documents
    ),
    t AS (
      SELECT doc_id, i AS pos, toks[i] AS w,
             CASE WHEN toks[i] IN ('the','a','and','of','is','this')
                  THEN 1 ELSE 0 END AS st
      FROM (SELECT doc_id, toks,
                   unnest(range(1, len(toks) + 1)) AS i
            FROM base)
    ),
    p AS (
      SELECT doc_id, w, st,
             sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
      FROM t
    ),
    ph AS (
      SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen
      FROM p WHERE st = 0 GROUP BY doc_id, pid
    ),
    wr AS (
      SELECT p.w, ph.plen
      FROM p JOIN ph ON p.doc_id = ph.doc_id AND p.pid = ph.pid
      WHERE p.st = 0
    ),
    agg AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS deg
      FROM wr GROUP BY w
    )
    SELECT word, freq, deg, (1000000 * deg) // freq AS rake_micros
    FROM agg ORDER BY rake_micros DESC, word LIMIT 30
    """,
)
def q172_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (operators/textstats.py:rake_keywords;
    Rose et al. 2010): stopword-delimited phrases, word score =
    degree/frequency in integer micros — the one-pass, no-iteration
    cheap sibling of q165's TextRank (same corpus, same tokenizer,
    different centrality notion: phrase-length degree vs graph rank).
    Segmentation is a per-document running stopword count — a window
    PARTITIONED BY doc (never global); phrase lengths join back on the
    (doc, phrase) key; the final agg is vocabulary-sized. Top-30 plans
    as TakeOrderedAndProject."""
    from ..operators.textstats import rake_keywords

    d = _read(spark, sf_dir, "documents")
    return rake_keywords(
        d, stopwords=["the", "a", "and", "of", "is", "this"]
    ).orderBy(F.desc("rake_micros"), "word").limit(30)


@q(
    "q174_kwic",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(lower(trim(regexp_replace(
               text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0) AS toks
      FROM documents
    ),
    hits AS (
      SELECT doc_id, toks, i
      FROM (SELECT doc_id, toks,
                   unnest(range(1, len(toks) + 1)) AS i
            FROM base)
      WHERE toks[i] = 'join'
    )
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
           coalesce(array_to_string(toks[greatest(i - 3, 1):i - 1],
                                    ' '), '') AS left_ctx,
           coalesce(array_to_string(toks[i + 1:i + 3], ' '), '')
             AS right_ctx
    FROM hits
    """,
)
def q174_kwic(spark, sf_dir):
    """Keyword-in-context concordance (operators/textstats.py:
    kwic_concordance): every occurrence of the probe term with ±3
    tokens of context — the corpus-linguistics audit run before
    writing a filter around a term (a blocklist rule reads differently
    against its concordance than against its count). One posexplode
    above the scan; the tokens array rides along in the row so context
    slicing is pure array codegen — no join-back, no window, zero
    shuffle."""
    from ..operators.textstats import kwic_concordance

    d = _read(spark, sf_dir, "documents")
    return kwic_concordance(d, probe="join", ctx=3)


@q(
    "q198_tfidf_cosine_pairs",
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' topic' || CAST(doc_id % 100 AS VARCHAR)
                  || ' subtopic' || CAST(doc_id % 40 AS VARCHAR) AS t
      FROM documents
    ),
    toks AS (
      SELECT doc_id AS id, w AS term FROM (
        SELECT doc_id, unnest(string_split(lower(t), ' ')) AS w FROM aug
      ) WHERE length(w) > 0
    ),
    tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY id, term),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
    nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
           FROM documents),
    kept AS (
      SELECT tf.id, tf.term, tf.tf * (1000 // dfq.df) AS w
      FROM tf JOIN dfq ON tf.term = dfq.term, nn
      WHERE dfq.df * 1000000 <= nn.n * 100000
        AND tf.tf * (1000 // dfq.df) > 0
    ),
    norms AS (SELECT id, CAST(sum(w * w) AS BIGINT) AS n2
              FROM kept GROUP BY id),
    dots AS (
      SELECT a.id AS a_id, b.id AS b_id,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot
      FROM kept a JOIN kept b ON a.term = b.term AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT d.a_id, d.b_id, d.dot,
           CAST(floor(CAST(d.dot AS DOUBLE) * 1000000.0
                      / (sqrt(CAST(na.n2 AS DOUBLE))
                         * sqrt(CAST(nb.n2 AS DOUBLE)))) AS BIGINT)
             AS cos_micros
    FROM dots d
    JOIN norms na ON d.a_id = na.id
    JOIN norms nb ON d.b_id = nb.id
    WHERE CAST(floor(CAST(d.dot AS DOUBLE) * 1000000.0
                     / (sqrt(CAST(na.n2 AS DOUBLE))
                        * sqrt(CAST(nb.n2 AS DOUBLE)))) AS BIGINT)
          >= 500000
    """,
)
def q198_tfidf_cosine_pairs(spark, sf_dir):
    """Exact sparse tf-idf cosine pairs (operators/similarity.py:
    tfidf_cosine_pairs) -- the LEXICAL near-dup complement to the dense
    q24/q55 embedding paths: template rewrites whose wording overlaps
    are caught with no encoder, via the All-Pairs discipline (df-capped
    term self-join = candidate generation AND exact dot product in one
    equi-join + partial agg; Bayardo WWW'07). Integer tf*(1000 div df)
    weights keep dots/norms exact BIGINTs; the cosine divides by two
    IEEE sqrts (the q176/q187 cross-engine discipline). Rare topic
    tokens are spliced per doc so the df cap leaves a non-trivial
    sparse vocabulary by construction."""
    from ..operators.similarity import tfidf_cosine_pairs

    d = _read(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" topic"), (F.col("doc_id") % 100).cast("string"),
            F.lit(" subtopic"), (F.col("doc_id") % 40).cast("string"),
        ).alias("text"),
    )
    return tfidf_cosine_pairs(aug)


@q(
    "q223_phrase_search",
    """
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '),
                         w -> length(w) > 0) AS w
      FROM documents
    ),
    toks AS (
      SELECT doc_id, w[i] AS term, i - 1 AS pos
      FROM ws, unnest(range(1, len(w) + 1)) AS r(i)
    ),
    p0 AS (SELECT doc_id, pos AS p FROM toks WHERE term = 'value'),
    p1 AS (SELECT doc_id, pos - 1 AS p FROM toks WHERE term = 'table'),
    p2 AS (SELECT doc_id, pos - 2 AS p FROM toks WHERE term = 'part')
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(min(p) AS BIGINT) AS first_pos
    FROM p0 JOIN p1 USING (doc_id, p) JOIN p2 USING (doc_id, p)
    GROUP BY doc_id
    """,
)
def q223_phrase_search(spark, sf_dir):
    """Exact phrase search ("value table part") via positional-posting
    self-joins (operators/retrieval.py phrase_search -- Manning IR
    2.4): the i-th term's postings join the anchor term's on
    (doc_id, pos + i), so only consecutive-position matches survive.
    Each join side is first cut to ONE term's postings -- at corpus
    scale with a term-partitioned posting table the joins move only
    the phrase terms' rows. Extends q119's doc-level inverted index to
    the positional form search engines actually serve."""
    from ..operators.retrieval import phrase_search

    return phrase_search(
        _read(spark, sf_dir, "documents"), "value table part"
    )


# --- wave: anchor-text document expansion (q260) ------------------------------


@q(
    "q260_anchor_expansion",
    """
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM documents),
    anch AS (
      SELECT (doc_id * 7 + 3) % N AS doc_id,
             array_to_string(string_split(text, ' ')[1:3], ' ')
               AS anchor
      FROM documents, nn
    ),
    btok AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(trim(
               regexp_replace(text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0)) AS term
      FROM documents
    ),
    atok AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(trim(
               regexp_replace(anchor, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0)) AS term
      FROM anch
    ),
    tb AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf_body
           FROM btok GROUP BY 1, 2),
    ta AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf_anchor
           FROM atok GROUP BY 1, 2)
    SELECT coalesce(tb.doc_id, ta.doc_id) AS doc_id,
           coalesce(tb.term, ta.term) AS term,
           CAST(coalesce(tb.tf_body, 0) AS BIGINT) AS tf_body,
           CAST(coalesce(ta.tf_anchor, 0) AS BIGINT) AS tf_anchor,
           CAST(coalesce(tb.tf_body, 0)
                + 2 * coalesce(ta.tf_anchor, 0) AS BIGINT)
             AS tf_expanded
    FROM tb FULL OUTER JOIN ta
      ON tb.doc_id = ta.doc_id AND tb.term = ta.term
    """,
)
def q260_anchor_expansion(spark, sf_dir):
    """Anchor-text document expansion (operators/linkgraph.py
    anchor_expansion; Craswell et al. 2001 / the anchor field of
    BM25F): inbound anchor terms are routed to the TARGET document and
    merged with its body term index at integer weight 2 — the signal
    that made early web search find sites their own text never names.
    Fixture: doc i links to (i*7+3)%N with anchor = its first three
    words, so every target's expanded index provably mixes two
    documents' vocabularies. Plan: one shuffle of the anchor stream on
    target id, two (doc, term) partial-agg groupBys, one full-outer
    equi-join — mega-indegree skew absorbed by map-side combine."""
    from ..operators.linkgraph import anchor_expansion

    d = _read(spark, sf_dir, "documents")
    n_row = d.agg(F.count("*").alias("N"))
    anchors = d.crossJoin(F.broadcast(n_row)).select(
        ((F.col("doc_id") * 7 + 3) % F.col("N")).alias("doc_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 3), " ")
        .alias("anchor"),
    )
    return anchor_expansion(
        d.select("doc_id", "text"), anchors, anchor_weight=2
    )


# --- wave: BM25F fielded ranking (q329) ---------------------------------------


@q(
    "q329_bm25f_topk",
    """
    WITH d AS (SELECT doc_id, doc_id % 4 AS m FROM documents),
    f AS (
      SELECT doc_id, 'title' AS field,
        CASE m WHEN 0 THEN 'spark shuffle guide'
          WHEN 1 THEN 'cooking tips today'
          WHEN 2 THEN 'spark basics' ELSE 'misc notes' END AS txt,
        2.0 AS w, 0.5 AS b FROM d
      UNION ALL
      SELECT doc_id, 'text',
        CASE m WHEN 0 THEN 'partition notes more'
          WHEN 1 THEN 'shuffle shuffle spark details'
          WHEN 2 THEN 'random words only here'
          ELSE 'spark appears once' END,
        1.0, 0.75 FROM d
    ),
    tok AS (SELECT doc_id, field, w, b,
                   list_filter(string_split(txt, ' '),
                               x -> length(x) > 0) AS t
            FROM f),
    stats AS (SELECT field, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(len(t)) AS BIGINT) AS sumdl
              FROM tok GROUP BY field),
    hits AS (SELECT doc_id, field, w, b, CAST(len(t) AS BIGINT) AS dl,
                    unnest(list_filter(t,
                      x -> x IN ('spark', 'shuffle'))) AS term
             FROM tok),
    tf AS (SELECT doc_id, field, term, any_value(w) AS w,
                  any_value(b) AS b, CAST(count(*) AS BIGINT) AS tf,
                  min(dl) AS dl
           FROM hits GROUP BY doc_id, field, term),
    dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM hits GROUP BY term),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS ndocs FROM documents),
    tft AS (
      SELECT doc_id, term,
             sum((w * CAST(tf AS DOUBLE))
                 / (1.0 - b + b * (CAST(dl AS DOUBLE)
                      / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))
               AS tft
      FROM tf JOIN stats USING (field) GROUP BY doc_id, term
    ),
    contrib AS (
      SELECT doc_id,
             CAST(floor(1e6 * ln((ndocs - df + 0.5) / (df + 0.5) + 1.0)
                  * (tft / (1.2 + tft))) AS BIGINT) AS c
      FROM tft JOIN dft USING (term), nd
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_micros,
           CAST(count(*) AS BIGINT) AS n_terms_hit
    FROM contrib GROUP BY doc_id
    ORDER BY score_micros DESC, doc_id LIMIT 20
    """,
)
def q329_bm25f_topk(spark, sf_dir):
    """BM25F fielded ranking (operators/retrieval.py bm25f_topk;
    Robertson & Zaragoza simple-BM25F) for query (spark, shuffle)
    over title (w=2, b=0.5) + body (w=1, b=0.75): per-field
    normalized term frequencies SUM into one pseudo-frequency scored
    once per term — a title hit outweighs a body hit without
    double-counting idf, the reason fielded BM25 beats adding two
    BM25s. Fixture strata give title-only, body-heavy, title-partial
    and body-single hits so field weighting visibly reorders the
    ranking vs q114's flat scoring. Oracle replays the full fielded
    pipeline; integer-micros contributions keep per-doc sums
    order-free, top-k plans as TakeOrderedAndProject."""
    from ..operators.retrieval import bm25f_topk

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    title = (
        F.when(m == 0, F.lit("spark shuffle guide"))
        .when(m == 1, F.lit("cooking tips today"))
        .when(m == 2, F.lit("spark basics"))
        .otherwise(F.lit("misc notes"))
    )
    body = (
        F.when(m == 0, F.lit("partition notes more"))
        .when(m == 1, F.lit("shuffle shuffle spark details"))
        .when(m == 2, F.lit("random words only here"))
        .otherwise(F.lit("spark appears once"))
    )
    docs = d.select("doc_id", title.alias("title"), body.alias("text"))
    return bm25f_topk(docs, ["spark", "shuffle"])
