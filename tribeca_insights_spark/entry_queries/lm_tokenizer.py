"""LM scoring (CCNet/backoff/KN/GT), BPE train/encode, chunk/pack.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


@q(
    "q27_token_counts",
    """
    SELECT doc_id, length(text) AS n_chars,
           len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS n_ws_tokens,
           len(list_filter(string_split_regex(text, '[^A-Za-zÀ-ÿ]+'),
                           w -> length(w) > 0)) AS n_word_tokens
    FROM documents
    """,
)
def q27_token_counts(spark, sf_dir):
    """Whitespace-chunk and letter-run token counts + char count."""
    from ..operators.textstats import token_counts

    return token_counts(_read(spark, sf_dir, "documents"))


@q("q73_bigram_lm_score", _Q73_SQL)
def q73_bigram_lm_score(spark, sf_dir):
    """CCNet-style LM quality scoring (operators/lm.py; Wenzek et al.
    2020): Laplace-smoothed bigram LM fit on the lang='en' slice scores
    every document's total log-probability; per-bigram log-probs are
    micro-quantized so the sum is order-independent and oracle-exact."""
    from ..operators.lm import bigram_lm_score

    docs = _read(spark, sf_dir, "documents")
    return bigram_lm_score(docs, F.col("lang") == "en")


@q(
    "q76_token_budget",
    f"""
    WITH dt AS (
      SELECT source,
             CAST(sum(len({_Q76_TOKENS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source,
             CAST(100000 + ('0x' || substr(md5(source), 1, 8))::BIGINT
                           % 900000 AS BIGINT) AS weight_micros
      FROM dt
    ),
    j AS (
      SELECT dt.source, n_tokens, weight_micros FROM dt JOIN w USING (source)
    ),
    tot AS (SELECT CAST(sum(weight_micros) AS BIGINT) AS w_total FROM j),
    r1 AS (
      SELECT source, n_tokens, weight_micros,
             (15000 * weight_micros) // w_total AS desired1
      FROM j, tot
    ),
    pool AS (
      SELECT CAST(coalesce(sum(CASE WHEN desired1 >= n_tokens
                                    THEN desired1 - n_tokens END), 0)
                  AS BIGINT) AS surplus,
             CAST(coalesce(sum(CASE WHEN desired1 < n_tokens
                                    THEN weight_micros END), 0)
                  AS BIGINT) AS w_uncapped
      FROM r1
    ),
    r2 AS (
      SELECT source, n_tokens,
             CASE WHEN desired1 >= n_tokens THEN desired1
                  ELSE desired1 + CASE WHEN w_uncapped > 0
                       THEN (surplus * weight_micros) // w_uncapped
                       ELSE 0 END
             END AS desired_tokens
      FROM r1, pool
    )
    SELECT source, n_tokens, desired_tokens,
           least(desired_tokens, n_tokens) AS kept_tokens,
           CASE WHEN n_tokens > 0
                THEN (1000000 * least(desired_tokens, n_tokens)) // n_tokens
                ELSE 0 END AS rate_micros
    FROM r2
    """,
)
def q76_token_budget(spark, sf_dir):
    """Token-budget mixture allocation (operators/mixing.py
    token_budget_rates): per-source keep-rates for a 15k-token budget
    under hash-derived mixture weights, one water-filling redistribution
    round for sources too small to fill their share. All integer
    floor-div micros — engine-exact; totals broadcast in-dataflow."""
    from ..operators.mixing import token_budget_rates

    docs = _read(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.regexp_replace("text", "[^A-Za-zÀ-ÿ]+", " ")),
                " ", -1),
        lambda w: F.length(w) > 0,
    )
    dt = docs.groupBy("source").agg(
        F.sum(F.size(toks)).cast("long").alias("n_tokens")
    )
    w = dt.select(
        "source",
        (
            F.lit(100000)
            + F.conv(F.substring(F.md5("source"), 1, 8), 16, 10)
            .cast("long") % 900000
        ).alias("weight_micros"),
    )
    return token_budget_rates(dt, w, budget=15000)


@q(
    "q84_perplexity_buckets",
    f"""
    WITH scored AS ({_Q73_SQL}),
    a AS (
      SELECT doc_id, n_bigrams, lm_logprob_micros,
             CAST(lm_logprob_micros AS DOUBLE)
               / CAST(n_bigrams AS DOUBLE) AS ar
      FROM scored
    ),
    th AS (
      SELECT quantile_disc(ar, 1.0 / 3.0) AS t_lo,
             quantile_disc(ar, 2.0 / 3.0) AS t_hi
      FROM a
    )
    SELECT doc_id, n_bigrams, lm_logprob_micros,
           round(ar, 6) AS avg_logprob,
           CAST(CASE WHEN ar > t_hi THEN 1
                     WHEN ar > t_lo THEN 2 ELSE 3 END AS BIGINT)
             AS ppl_bucket,
           CASE WHEN ar > t_hi THEN 'head'
                WHEN ar > t_lo THEN 'middle' ELSE 'tail' END
             AS bucket_label
    FROM a, th
    """,
)
def q84_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail split (operators/lm.py perplexity_buckets;
    Wenzek et al. 2020 §4.3), scale-safe threshold form: one
    percentile_approx aggregation yields the 1/3 and 2/3 quantiles of
    mean per-bigram log-prob under the lang='en' LM (in the exact
    regime the data value at rank ceil(p*n) — identical to DuckDB
    quantile_disc), the 1-row threshold frame is broadcast, buckets are
    two comparisons on the raw IEEE ratio. No window, no global sort —
    replaces r3's single-partition NTILE (VERDICT r3 #1); the NTILE
    reference lives on in tests as perplexity_buckets_ntile."""
    from ..operators.lm import bigram_lm_score, perplexity_buckets

    docs = _read(spark, sf_dir, "documents")
    return perplexity_buckets(
        bigram_lm_score(docs, F.col("lang") == "en")
    )


@q(
    "q108_ccnet_per_lang",
    """
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(
               string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0) AS l
      FROM documents
    ),
    big AS (
      SELECT doc_id, lang, l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT doc_id, lang, l, unnest(range(1, len(l))) AS i
            FROM toks)
    ),
    uni AS (SELECT doc_id, lang, unnest(l) AS w FROM toks),
    c1 AS (
      SELECT lang, w AS w1, CAST(count(*) AS BIGINT) AS c1
      FROM uni GROUP BY lang, w
    ),
    c12 AS (
      SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM big GROUP BY lang, w1, w2
    ),
    v AS (SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS vsz
          FROM uni GROUP BY lang),
    scored AS (
      SELECT b.doc_id, b.lang, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CAST(floor(1e6 * (ln(coalesce(c12, 0) + 1)
                                        - ln(coalesce(c1, 0) + vsz)))
                           AS BIGINT)) AS BIGINT) AS lm_logprob_micros
      FROM big b
      LEFT JOIN c12 USING (lang, w1, w2)
      LEFT JOIN c1 USING (lang, w1)
      JOIN v USING (lang)
      GROUP BY b.doc_id, b.lang
    ),
    a AS (
      SELECT doc_id, lang, n_bigrams, lm_logprob_micros,
             CAST(lm_logprob_micros AS DOUBLE)
               / CAST(n_bigrams AS DOUBLE) AS ar
      FROM scored
    ),
    th AS (
      SELECT lang, quantile_disc(ar, 1.0 / 3.0) AS t_lo,
             quantile_disc(ar, 2.0 / 3.0) AS t_hi
      FROM a GROUP BY lang
    )
    SELECT a.doc_id, a.lang, n_bigrams, lm_logprob_micros,
           round(ar, 6) AS avg_logprob,
           CAST(CASE WHEN ar > t_hi THEN 1
                     WHEN ar > t_lo THEN 2 ELSE 3 END AS BIGINT)
             AS ppl_bucket,
           CASE WHEN ar > t_hi THEN 'head'
                WHEN ar > t_lo THEN 'middle' ELSE 'tail' END
             AS bucket_label
    FROM a JOIN th USING (lang)
    """,
)
def q108_ccnet_per_lang(spark, sf_dir):
    """CCNet at its TRUE granularity (operators/lm.py
    bigram_lm_score_grouped + perplexity_buckets(group_col) — Wenzek et
    al. 2020 train one LM per language and bucket per language): each
    language's bigram LM is fit on that language's documents
    (self-perplexity), every doc scores against its own language's
    model, and head/middle/tail cut points are per-language
    percentile_approx sketches broadcast back. No window, no global
    sort anywhere; count tables carry the lang key through the same
    joins as q73, and the threshold dim is |languages| rows."""
    from ..operators.lm import bigram_lm_score_grouped, perplexity_buckets

    docs = _read(spark, sf_dir, "documents")
    return perplexity_buckets(
        bigram_lm_score_grouped(docs),
        group_col="lang",
    )


@q(
    "q116_chunk_documents",
    """
    WITH base AS (
      SELECT doc_id, list_filter(string_split(text, ' '),
                                 w -> length(w) > 0) AS t
      FROM documents
    ), b2 AS (
      SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
             1 + CAST(floor((greatest(0, CAST(len(t) AS BIGINT) - 32)
                             + 23) / 24.0) AS BIGINT) AS nc
      FROM base WHERE len(t) > 0
    ), e AS (
      SELECT doc_id, t, n, unnest(range(0, nc)) AS ci FROM b2
    )
    SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
           CAST(1 + ci * 24 AS BIGINT) AS start_token,
           CAST(least(32, n - ci * 24) AS BIGINT) AS n_tokens,
           array_to_string(
             t[CAST(1 + ci * 24 AS BIGINT)
               :CAST(ci * 24 + least(32, n - ci * 24) AS BIGINT)],
             ' ') AS chunk_text
    FROM e
    """,
)
def q116_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunks (operators/chunking.py) — RAG /
    embedding prep: 32-token chunks, stride 24 (8-token overlap).
    Map-only plan: tokenize + slice + explode inside one codegen
    Project, zero Exchange (the extraction-stage scale shape). The
    oracle replays chunk boundaries closed-form with DuckDB list
    slicing."""
    from ..operators.chunking import chunk_documents

    return chunk_documents(
        _read(spark, sf_dir, "documents"), chunk=32, stride=24
    )


@q(
    "q117_pack_sequences",
    """
    WITH base AS (
      SELECT doc_id, source AS "group",
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> length(w) > 0)) AS BIGINT)
               AS n_tokens
      FROM documents
    ), o AS (
      SELECT doc_id, "group", n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
                    PARTITION BY "group" ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS stream_offset
      FROM base WHERE n_tokens > 0
    )
    SELECT doc_id, "group", n_tokens, stream_offset,
           CAST(floor(stream_offset / 256.0) AS BIGINT) AS start_seq,
           CAST(floor((stream_offset + n_tokens - 1) / 256.0) AS BIGINT)
             AS end_seq,
           CAST(floor((stream_offset + n_tokens - 1) / 256.0)
                - floor(stream_offset / 256.0) + 1 AS BIGINT)
             AS n_seqs_spanned,
           stream_offset % 256 AS offset_in_seq
    FROM o
    """,
)
def q117_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing (operators/chunking.py): per-source
    token streams cut into 256-token training sequences; each doc
    reports its stream offset and the sequence span it lands in. The
    cumulative sum is a window partitioned by source — never a global
    unpartitioned window (the q84 lesson); one hash Exchange on the
    group key, per-partition sorts only."""
    from ..operators.chunking import pack_sequences

    return pack_sequences(
        _read(spark, sf_dir, "documents"), ctx=256)


@q(
    "q118_bpe_pair_counts",
    """
    WITH v AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> length(x) > 0)) AS w
            FROM documents)
      GROUP BY 1
    ), pos AS (
      SELECT word, freq, unnest(range(1, length(word))) AS i
      FROM v WHERE length(word) > 1
    ), p AS (
      SELECT substring(word, CAST(i AS INT), 2) AS pair, word, freq
      FROM pos
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words
    FROM p GROUP BY pair
    ORDER BY pair_count DESC, pair LIMIT 30
    """,
)
def q118_bpe_pair_counts(spark, sf_dir):
    """BPE tokenizer-training primitive (operators/bpe.py): corpus-
    weighted adjacent character-pair counts. One corpus-sized shuffle
    (the word-frequency groupBy, map-side combined); the pair explode
    runs over the |V|-row vocabulary table only; top-k plans as
    TakeOrderedAndProject."""
    from ..operators.bpe import bpe_pair_counts

    return bpe_pair_counts(_read(spark, sf_dir, "documents"), topk=30)


@q(
    "q133_bpe_train_merges",
    """
    WITH vocab AS (
      SELECT word, count(*) AS freq
      FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
      WHERE length(word) > 0 GROUP BY word
    ),
    v0 AS (
      SELECT regexp_replace(word, '(.)', chr(31) || '\\1' || chr(30),
                            'g') AS sym, freq
      FROM vocab
    ),
    p1 AS (
      SELECT l[i] AS a, l[i + 1] AS b, freq
      FROM (SELECT str_split(substr(sym, 2, length(sym) - 2),
                             chr(30) || chr(31)) AS l, freq FROM v0),
           unnest(range(1, len(l))) AS t(i)
    ),
    m1 AS (
      SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p1
      GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1
    ),
    v1 AS (
      SELECT replace(sym,
               chr(31) || a || chr(30) || chr(31) || b || chr(30),
               chr(31) || a || b || chr(30)) AS sym, freq
      FROM v0, m1
    ),
    p2 AS (
      SELECT l[i] AS a, l[i + 1] AS b, freq
      FROM (SELECT str_split(substr(sym, 2, length(sym) - 2),
                             chr(30) || chr(31)) AS l, freq FROM v1),
           unnest(range(1, len(l))) AS t(i)
    ),
    m2 AS (
      SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p2
      GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1
    ),
    v2 AS (
      SELECT replace(sym,
               chr(31) || a || chr(30) || chr(31) || b || chr(30),
               chr(31) || a || b || chr(30)) AS sym, freq
      FROM v1, m2
    ),
    p3 AS (
      SELECT l[i] AS a, l[i + 1] AS b, freq
      FROM (SELECT str_split(substr(sym, 2, length(sym) - 2),
                             chr(30) || chr(31)) AS l, freq FROM v2),
           unnest(range(1, len(l))) AS t(i)
    ),
    m3 AS (
      SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p3
      GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1
    )
    SELECT 1 AS step, a AS "left", b AS "right", cnt AS pair_count
    FROM m1
    UNION ALL
    SELECT 2, a, b, cnt FROM m2
    UNION ALL
    SELECT 3, a, b, cnt FROM m3
    """,
)
def q133_bpe_train_merges(spark, sf_dir):
    """BPE tokenizer TRAINING, first 3 merges learned greedily with
    each merge applied before the next count
    (operators/bpe.py:bpe_train_merges). One corpus-sized shuffle
    total (word frequencies); each round is |V|-sized pair counting +
    a TakeOrderedAndProject top-1 argmax cross-joined back as a
    broadcast 1-row table — NO driver action inside the loop, the
    whole recurrence is one lazy plan. Merges are literal replaces on
    a sentinel-delimited symbol string, boundary-safe by construction
    and identically non-overlapping left-to-right in Spark, DuckDB and
    Python (pinned against a pure-Python BPE in tests). The ORACLE
    unrolls the identical 3-round recurrence in SQL."""
    from ..operators.bpe import bpe_train_merges

    return bpe_train_merges(
        _read(spark, sf_dir, "documents"), n_merges=3
    )


@q(
    "q139_stupid_backoff",
    """
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t,
             list_filter(
               string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0) AS l
      FROM documents
    ),
    tri AS (
      SELECT doc_id, is_t, l[i] AS w1, l[i + 1] AS w2, l[i + 2] AS w3
      FROM (SELECT doc_id, is_t, l, unnest(range(1, len(l) - 1)) AS i
            FROM toks WHERE len(l) >= 3)
    ),
    big AS (
      SELECT doc_id, is_t, l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT doc_id, is_t, l, unnest(range(1, len(l))) AS i
            FROM toks)
    ),
    uni AS (SELECT doc_id, is_t, unnest(l) AS w FROM toks),
    c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tri
             WHERE is_t GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM big
            WHERE is_t GROUP BY 1, 2),
    c23 AS (SELECT w1 AS w2, w2 AS w3, count(*) AS c23 FROM big
            WHERE is_t GROUP BY 1, 2),
    c2 AS (SELECT w AS w2, count(*) AS c2 FROM uni
           WHERE is_t GROUP BY 1),
    c3 AS (SELECT w AS w3, count(*) AS c3 FROM uni
           WHERE is_t GROUP BY 1),
    nt AS (SELECT count(*) AS N FROM uni WHERE is_t)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(CAST(floor(1e6 * (
             CASE
               WHEN c123.c123 IS NOT NULL
                 THEN ln(c123.c123 / c12.c12)
               WHEN c23.c23 IS NOT NULL
                 THEN ln(0.4) + ln(c23.c23 / c2.c2)
               ELSE ln(0.4) + ln(0.4)
                    + ln(greatest(coalesce(c3.c3, 0), 1) / N)
             END)) AS BIGINT)) AS BIGINT) AS sb_logprob_micros
    FROM tri t
    LEFT JOIN c123 USING (w1, w2, w3)
    LEFT JOIN c12 USING (w1, w2)
    LEFT JOIN c23 USING (w2, w3)
    LEFT JOIN c2 USING (w2)
    LEFT JOIN c3 USING (w3)
    CROSS JOIN nt
    GROUP BY t.doc_id
    """,
)
def q139_stupid_backoff(spark, sf_dir):
    """Trigram Stupid-Backoff quality score
    (operators/lm.py:stupid_backoff_score; Brants EMNLP'07 — the LM
    scheme DESIGNED for MapReduce scale): relative frequencies + fixed
    0.4 backoff, no normalization pass, the model is just count tables
    living in the dataflow. English slice trains; every doc scores via
    three LEFT equi-joins against vocabulary-bounded counts + a
    broadcast 1-row N. Per-trigram logs floor to integer micros BEFORE
    the doc sum — aggregation-order-free, hence hash-oracle-able."""
    from ..operators.lm import stupid_backoff_score

    d = _read(spark, sf_dir, "documents")
    return stupid_backoff_score(d, F.col("lang") == "en")


@q("q156_bpe_encode", _bpe_encode_oracle())
def q156_bpe_encode(spark, sf_dir):
    """BPE tokenizer APPLICATION (operators/bpe.py:bpe_encode) — the
    encode half of the q133 train/encode pair: a fixed rank-ordered
    8-merge list applied to every word as a sentinel-delimited
    replace-fold (exact greedy BPE, pure whole-stage codegen, zero
    Python / zero shuffle on the corpus path), then corpus symbol
    frequencies. The ORACLE replays the identical replace chain in
    DuckDB — left-to-right non-overlapping replace is a shared
    contract — so hash-matching proves encoder equivalence symbol by
    symbol."""
    from ..operators.bpe import bpe_encode

    be = bpe_encode(_read(spark, sf_dir, "documents"), _BPE_MERGES)
    return (
        be.select("doc_id", F.explode("symbols").alias("symbol"))
        .groupBy("symbol")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy(F.desc("freq"), "symbol")
    )


@q(
    "q173_packing_efficiency",
    """
    WITH base AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(lower(trim(
               regexp_replace(text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0)) AS BIGINT) AS n
      FROM documents
    ),
    o AS (
      SELECT source, n,
             CAST(coalesce(sum(n) OVER (PARTITION BY source
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
               1 PRECEDING), 0) AS BIGINT) AS off
      FROM base WHERE n > 0
    ),
    s AS (
      SELECT source, n, off // 256 AS s0, (off + n - 1) // 256 AS s1
      FROM o
    ),
    g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS total_tokens,
             CAST(max(s1) + 1 AS BIGINT) AS n_seqs,
             CAST(sum(CASE WHEN s1 > s0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boundary_docs
      FROM s GROUP BY source
    )
    SELECT source, n_docs, total_tokens, n_seqs,
           (total_tokens * 1000000) // (n_seqs * 256) AS fill_micros,
           n_boundary_docs
    FROM g ORDER BY source
    """,
)
def q173_packing_efficiency(spark, sf_dir):
    """Packing-efficiency report (operators/chunking.py:
    packing_efficiency) over q117's GPT-style sequence packing: per
    source, ctx-sequence fill rate and boundary-straddling doc count —
    the numbers that price wasted tail tokens (paid every epoch) and
    decide whether boundary docs need attention-mask resets. Group-
    sized aggregate above pack_sequences' single group-keyed Exchange
    (the cumulative window is partitioned by source, never global)."""
    from ..operators.chunking import packing_efficiency

    d = _read(spark, sf_dir, "documents")
    return packing_efficiency(d, ctx=256).orderBy(
        "source"
    )


@q(
    "q178_heldout_lm_eval",
    """
    WITH sp AS (
      SELECT doc_id, text,
             CASE
               WHEN ('0x' || substr(md5('split' ||
                 CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
                 < 800000 THEN 'train'
               WHEN ('0x' || substr(md5('split' ||
                 CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
                 < 900000 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    ),
    toks AS (
      SELECT doc_id, split, split = 'train' AS is_t,
             list_filter(string_split(lower(trim(regexp_replace(
               text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0) AS l
      FROM sp
    ),
    big AS (
      SELECT doc_id, split, is_t, l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT doc_id, split, is_t, l,
                   unnest(range(1, len(l))) AS i
            FROM toks)
    ),
    uni AS (SELECT is_t, unnest(l) AS w FROM toks),
    c1 AS (SELECT w AS w1, CAST(count(*) AS BIGINT) AS c1
           FROM uni WHERE is_t GROUP BY w),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM big WHERE is_t GROUP BY w1, w2),
    v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vsz
          FROM uni WHERE is_t),
    scored AS (
      SELECT b.doc_id, b.split, CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(CAST(floor(1e6 * (ln(coalesce(c12, 0) + 1)
                                        - ln(coalesce(c1, 0) + vsz)))
                           AS BIGINT)) AS BIGINT) AS lp
      FROM big b
      LEFT JOIN c12 USING (w1, w2)
      LEFT JOIN c1 USING (w1)
      CROSS JOIN v
      GROUP BY b.doc_id, b.split
    ),
    agg AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nb) AS BIGINT) AS n_bigrams,
             CAST(sum(lp) AS BIGINT) AS lm_logprob_micros
      FROM scored GROUP BY split
    )
    SELECT split, n_docs, n_bigrams, lm_logprob_micros,
           CASE WHEN lm_logprob_micros >= 0
                THEN lm_logprob_micros // n_bigrams
                ELSE -((-lm_logprob_micros) // n_bigrams) END
             AS mean_bigram_micros
    FROM agg
    """,
)
def q178_heldout_lm_eval(spark, sf_dir):
    """Held-out LM evaluation (operators/lm.py:heldout_lm_eval): the
    Laplace bigram LM fits on the TRAIN split only (salted md5 buckets
    — q110's engine-portable split) and every split reports total and
    mean log-probability — eval hygiene for q73 (a model scored on its
    own training slice overstates quality; the train/val gap is the
    memorization signal). Count tables are the q73 plan (vocabulary-
    sized, broadcast V); the rollup is 3 rows; the mean uses
    sign-split floor division (sums are negative — the q170 div-vs-//
    hazard)."""
    from ..operators.lm import heldout_lm_eval

    d = _read(spark, sf_dir, "documents")
    return heldout_lm_eval(d, train_micros=800_000,
                           val_micros=100_000)


@q("q180_bpe_fertility", _bpe_fertility_oracle())
def q180_bpe_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (operators/bpe.py:
    bpe_fertility; Rust et al. 2021): tokens-per-word and
    chars-per-token under the fixed q156 merge list — the two numbers
    that price a language's context-window and compute cost under a
    tokenizer, the standard input to vocabulary rebalancing. The
    encode is q156's zero-shuffle replace-fold Project; stats ride an
    id-keyed join from the same scan; one group-sized rollup. The
    ORACLE replays encode + counts symbol-exactly."""
    from ..operators.bpe import bpe_fertility

    d = _read(spark, sf_dir, "documents")
    return bpe_fertility(d, _BPE_MERGES).orderBy(
        "lang"
    )


@q(
    "q234_oov_rate",
    """
    WITH tok AS (
      SELECT lang AS grp,
             unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS w
      FROM documents
    ),
    tc AS (
      SELECT grp, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY grp, w
    ),
    rk AS (
      SELECT grp, w, c, row_number() OVER (
        PARTITION BY grp ORDER BY c DESC, w
      ) AS r FROM tc
    )
    SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN r <= 100 THEN c ELSE 0 END) AS BIGINT)
             AS top_v_tokens,
           (sum(c) - sum(CASE WHEN r <= 100 THEN c ELSE 0 END))
             * 1000000 // sum(c) AS oov_micros
    FROM rk GROUP BY grp
    """,
)
def q234_oov_rate(spark, sf_dir):
    """Per-language out-of-vocabulary rate at a top-100 frequency
    vocabulary (operators/textstats.py oov_rate) -- the tokenizer-
    design truncation-cost number next to q171's HHI concentration
    and q180's BPE fertility. Term counts ride ONE map-combined
    groupBy; the vocab cut is a window over the TERM table partitioned
    by language (never the corpus); boundary ties rank (count DESC,
    term ASC) so the oracle replays the exact cut. Exact integer
    micros."""
    from ..operators.textstats import oov_rate

    return oov_rate(
        _read(spark, sf_dir, "documents"), vocab_size=100
    )


# --- wave: classical LM smoothing tables (q257-q258) -------------------------


@q(
    "q257_kneser_ney",
    """
    WITH toks AS (
      SELECT list_filter(
               string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0) AS l
      FROM documents WHERE lang = 'en'
    ),
    big AS (
      SELECT l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT l, unnest(range(1, len(l))) AS i FROM toks)
    ),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM big GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1p_fwd
            FROM c12 GROUP BY 1),
    bwd AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd
            FROM c12 GROUP BY 1),
    bt AS (SELECT CAST(count(*) AS BIGINT) AS B FROM c12)
    SELECT c12.w1, c12.w2, c12.c12, ctx.c1, ctx.n1p_fwd, bwd.n1p_bwd,
           CAST(floor(1e6 * ((c12.c12 - CAST(0.75 AS DOUBLE)) / ctx.c1
                + CAST(0.75 AS DOUBLE) * ctx.n1p_fwd / ctx.c1
                  * bwd.n1p_bwd / bt.B))
                AS BIGINT) AS kn_prob_micros
    FROM c12 JOIN ctx USING (w1) JOIN bwd USING (w2) CROSS JOIN bt
    """,
)
def q257_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram model table fit on the English
    slice (operators/lm.py:kneser_ney_bigram; Chen & Goodman 1999 eq.
    4.25) — the smoothing the n-gram-LM quality filters (CCNet/KenLM)
    actually use, completing the LM family next to Laplace (q73) and
    Stupid Backoff (q139). The model lives in the dataflow: one
    corpus-scale bigram-type groupBy, vocabulary-bounded marginal
    re-aggregations (context totals, N1+ forward/backward continuation
    counts), a broadcast 1-row type count, equi-joins only. Per-bigram
    probability floors to integer micros from the identical
    left-associated double expression the oracle states."""
    from ..operators.lm import kneser_ney_bigram

    d = _read(spark, sf_dir, "documents")
    return kneser_ney_bigram(d, F.col("lang") == "en")


@q(
    "q258_good_turing",
    """
    WITH toks AS (
      SELECT list_filter(
               string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0) AS l
      FROM documents WHERE lang = 'en'
    ),
    cnt AS (SELECT w, count(*) AS r
            FROM (SELECT unnest(l) AS w FROM toks) GROUP BY 1),
    coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_types
            FROM cnt GROUP BY 1)
    SELECT CAST(a.r AS BIGINT) AS r, a.n_types,
           CAST(floor(1e6 * (a.r + 1) * coalesce(b.n_types, 0)
                      / a.n_types) AS BIGINT) AS r_star_micros
    FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
    """,
)
def q258_good_turing(spark, sf_dir):
    """Good-Turing count-of-counts table over the English slice's
    unigrams (operators/lm.py:good_turing_counts; Good 1953): N_r and
    the Turing-adjusted count r* = (r+1)N_{r+1}/N_r in integer micros.
    The estimator behind unseen-mass estimates (N_1/N) and SGT
    smoothing. Scale shape: corpus groupBy -> vocabulary-bounded
    count-of-counts -> SELF equi-join on r+1 (never a global-ordered
    window), output bounded by |distinct count values|."""
    from ..operators.lm import good_turing_counts

    d = _read(spark, sf_dir, "documents")
    return good_turing_counts(d, F.col("lang") == "en")
