"""Text quality/statistics: lang, entropy, Zipf/Heaps, mojibake, scripts.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


@q(
    "q25_lang_guess",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                        w -> length(w) > 0)) AS w
      FROM documents
    ), scores AS (
      SELECT doc_id,
        sum(CASE WHEN w IN ('der','die','und','das','ein','nicht') THEN 1 ELSE 0 END) AS s_de,
        sum(CASE WHEN w IN ('the','and','of','is','this','that','with') THEN 1 ELSE 0 END) AS s_en,
        sum(CASE WHEN w IN ('que','la','de','los','las','una') THEN 1 ELSE 0 END) AS s_es,
        sum(CASE WHEN w IN ('le','la','et','les','des','une') THEN 1 ELSE 0 END) AS s_fr,
        sum(CASE WHEN w IN ('que','de','não','uma','os','das') THEN 1 ELSE 0 END) AS s_pt
      FROM words GROUP BY doc_id
    ), unp AS (
      SELECT doc_id, 'de' AS lg, s_de AS s FROM scores UNION ALL
      SELECT doc_id, 'en', s_en FROM scores UNION ALL
      SELECT doc_id, 'es', s_es FROM scores UNION ALL
      SELECT doc_id, 'fr', s_fr FROM scores UNION ALL
      SELECT doc_id, 'pt', s_pt FROM scores
    )
    SELECT doc_id,
           CASE WHEN s > 0 THEN lg ELSE 'none' END AS lang_guess,
           CAST(s AS BIGINT) AS best_score
    FROM (
      SELECT doc_id, lg, s,
             row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lg) AS rn
      FROM unp
    ) WHERE rn = 1
    """,
)
def q25_lang_guess(spark, sf_dir):
    """Marker-word language ID (argmax with lang-asc tie-break)."""
    from ..operators.textstats import lang_guess

    return lang_guess(_read(spark, sf_dir, "documents"))


@q(
    "q26_quality_scores",
    """
    WITH words AS (
      SELECT doc_id, length(text) AS n_chars,
             unnest(list_filter(string_split(lower(text), ' '),
                                w -> length(w) > 0)) AS w
      FROM documents
    )
    SELECT doc_id, n_chars, count(*) AS n_words,
           count(DISTINCT w) AS n_distinct_words,
           round(count(DISTINCT w) / CAST(count(*) AS DOUBLE), 4) AS type_token_ratio,
           round(sum(CASE WHEN w IN ('the','a','and','of','is','this','that','to','in','it')
                          THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS stopword_ratio,
           round(sum(length(w)) / CAST(count(*) AS DOUBLE), 4) AS mean_word_len,
           CAST(count(*) >= 10 AND count(DISTINCT w) / CAST(count(*) AS DOUBLE) >= 0.2
                AS INT) AS quality_ok
    FROM words GROUP BY doc_id, n_chars
    """,
)
def q26_quality_scores(spark, sf_dir):
    """Pre-training quality gates: length, lexical diversity, stopword
    ratio, mean word length, boolean gate."""
    from ..operators.textstats import quality_scores

    return quality_scores(_read(spark, sf_dir, "documents")).withColumn(
        "quality_ok", F.col("quality_ok").cast("int")
    )


@q(
    "q46_gopher_flags",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                        w -> length(w) > 0)) AS w
      FROM documents
    ), pw AS (
      SELECT doc_id, count(*) AS n_words,
             round(avg(length(w)), 4) AS mean_word_len,
             sum(CASE WHEN regexp_matches(w, '[A-Za-zÀ-ÿ]') THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN w IN ('#','...','…') THEN 1 ELSE 0 END) AS ns
      FROM words GROUP BY doc_id
    ), ln AS (
      SELECT doc_id, count(*) AS nl,
             sum(CASE WHEN line LIKE '%...' OR line LIKE '%…' THEN 1 ELSE 0 END) AS ne
      FROM (SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
                                              l -> length(l) > 0)) AS line
            FROM documents) GROUP BY doc_id
    )
    SELECT pw.doc_id, n_words, mean_word_len,
           round(na / CAST(n_words AS DOUBLE), 4) AS alpha_word_ratio,
           round(ns / CAST(n_words AS DOUBLE), 4) AS symbol_word_ratio,
           round(coalesce(ne, 0) / CAST(coalesce(nl, 1) AS DOUBLE), 4) AS ellipsis_line_ratio,
           n_words BETWEEN 50 AND 100000 AS ok_word_count,
           mean_word_len BETWEEN 3 AND 10 AS ok_mean_word_len,
           na / CAST(n_words AS DOUBLE) >= 0.8 AS ok_alpha_ratio,
           ns / CAST(n_words AS DOUBLE) <= 0.1 AS ok_symbol_ratio,
           coalesce(ne, 0) / CAST(coalesce(nl, 1) AS DOUBLE) <= 0.3 AS ok_ellipsis,
           (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3 AND 10)
             AND na / CAST(n_words AS DOUBLE) >= 0.8
             AND ns / CAST(n_words AS DOUBLE) <= 0.1
             AND coalesce(ne, 0) / CAST(coalesce(nl, 1) AS DOUBLE) <= 0.3 AS gopher_ok
    FROM pw LEFT JOIN ln ON pw.doc_id = ln.doc_id
    """,
)
def q46_gopher_flags(spark, sf_dir):
    """Gopher-style quality rules (word-count window, mean word length,
    alpha/symbol ratios, ellipsis lines) — each inspectable + conjunction."""
    from ..operators.textstats import gopher_quality_flags

    return gopher_quality_flags(_read(spark, sf_dir, "documents"))


@q(
    "q47_repetition",
    """
    WITH base AS (
      SELECT doc_id,
             text || chr(10) || 'Alpha Beta' || chr(10) || 'Alpha Beta' AS t
      FROM documents
    ), lines AS (
      SELECT doc_id, unnest(list_filter(string_split(t, chr(10)),
                                        l -> length(trim(l)) > 0)) AS line
      FROM base
    ), ls AS (
      SELECT doc_id, sum(c) AS n_lines, sum(c - 1) AS n_dup
      FROM (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY doc_id, line)
      GROUP BY doc_id
    ), toks AS (
      SELECT doc_id, list_filter(string_split(lower(t), ' '),
                                 w -> length(w) > 0) AS ws
      FROM base
    ), bgs AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg
      FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws), 1))) AS i
            FROM toks)
    ), bs AS (
      SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top
      FROM (SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY doc_id, bg)
      GROUP BY doc_id
    )
    SELECT ls.doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           round(n_dup / CAST(n_lines AS DOUBLE), 4) AS dup_line_ratio,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(top / CAST(n_bigrams AS DOUBLE), 4) AS top_bigram_ratio
    FROM ls JOIN bs ON ls.doc_id = bs.doc_id
    """,
)
def q47_repetition(spark, sf_dir):
    """Duplicate-line and top-bigram repetition signals (C4/Gopher family);
    duplicate lines synthesized deterministically so the detector provably
    fires (dup_line_ratio = 1/3 per doc)."""
    from ..operators.textstats import repetition_stats

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\nAlpha Beta\nAlpha Beta")
        ).alias("text"),
    )
    return repetition_stats(d)


@q(
    "q91_encoding_quality",
    f"""
    WITH inj AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' franÃ§ais Ã©cole' ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' ' || chr(65533) ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(length(t) AS INT) AS n_chars,
           CAST(length(t) - length(replace(t, chr(65533), '')) AS INT)
             AS n_replacement,
           {_MOJI_SUM_SQL} AS mojibake_hits,
           CAST(length(t)
                - length(regexp_replace(t, '[^\\x00-\\x7F]', '', 'g'))
             AS INT) AS n_non_ascii,
           round(CAST(length(regexp_replace(t, '[^\\x00-\\x7F]', '', 'g'))
                      AS DOUBLE)
                 / CAST(greatest(length(t), 1) AS DOUBLE), 4)
             AS ascii_ratio,
           (length(t) - length(replace(t, chr(65533), '')) > 0
            OR {_MOJI_SUM_SQL} > 0) AS encoding_suspect
    FROM inj
    """,
)
def q91_encoding_quality(spark, sf_dir):
    """Encoding-quality audit (operators/textstats.py encoding_quality):
    replacement-char damage, Latin-1-misdecoded-UTF-8 signatures, and
    non-ASCII share per document — the gate that catches wrong-charset
    pages the reference's inherited requests guess never audits
    (crawler.py:137-138). Deterministic corruption injected in-dataflow
    (doc_id % 7 → mojibake, % 13 → U+FFFD) so both engines score the same
    strings; all metrics are fixed-literal replace/length arithmetic —
    native columnar, zero shuffle."""
    from ..operators.textstats import encoding_quality

    d = _read(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" franÃ§ais Ã©cole")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.lit(" �")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return encoding_quality(injected)


@q(
    "q99_reading_ease",
    """
    WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
    m AS (
      SELECT doc_id,
             CASE WHEN trim(lt) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(lt), '\\s+')) END
               AS n_words,
             CAST(length(regexp_replace(lt, '[aeiouy]+', '#', 'g'))
                  - length(replace(regexp_replace(lt, '[aeiouy]+', '#',
                                                  'g'), '#', ''))
               AS INT) AS n_syllables,
             greatest(CAST(length(regexp_replace(lt, '[.!?]+', '#', 'g'))
                           - length(replace(regexp_replace(lt, '[.!?]+',
                                                           '#', 'g'),
                                            '#', '')) AS INT), 1)
               AS n_sentences
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           n_syllables,
           CAST(n_sentences AS INT) AS n_sentences,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE)
                           / CAST(greatest(n_words, 1) AS DOUBLE)), 4)
             AS flesch_score
    FROM m
    """,
)
def q99_reading_ease(spark, sf_dir):
    """Flesch reading-ease (operators/textstats.reading_ease) — the
    readability signal education-quality filters threshold on. Proxy
    syllables = vowel-group runs; sentences = [.!?]+ runs floored at 1.
    Oracle counts the same runs via replace-length arithmetic (a regex
    shape Java and RE2 treat identically) and states the same rounded
    formula. Native columnar, zero shuffle."""
    from ..operators.textstats import reading_ease

    return reading_ease(_read(spark, sf_dir, "documents"))


@q(
    "q111_script_profile",
    """
    WITH base AS (
      SELECT doc_id,
             text || ' ' ||
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'привет мир'
               WHEN 1 THEN 'γειά σου κόσμε'
               WHEN 2 THEN '你好世界'
               ELSE 'مرحبا بالعالم'
             END || ' 2026' AS t0
      FROM documents
    ), stripped AS (
      SELECT doc_id, regexp_replace(t0, '\\s', '', 'g') AS t FROM base
    )
    SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_chars,
           (length(t) - length(regexp_replace(t, '\\p{Latin}', '', 'g')))
             * 1000000 // greatest(length(t), 1) AS latin_micros,
           (length(t) - length(regexp_replace(t, '\\p{Cyrillic}', '', 'g')))
             * 1000000 // greatest(length(t), 1) AS cyrillic_micros,
           (length(t) - length(regexp_replace(t, '\\p{Greek}', '', 'g')))
             * 1000000 // greatest(length(t), 1) AS greek_micros,
           (length(t) - length(regexp_replace(t, '\\p{Han}', '', 'g')))
             * 1000000 // greatest(length(t), 1) AS han_micros,
           (length(t) - length(regexp_replace(t, '\\p{Arabic}', '', 'g')))
             * 1000000 // greatest(length(t), 1) AS arabic_micros,
           (length(t) - length(regexp_replace(t, '[0-9]', '', 'g')))
             * 1000000 // greatest(length(t), 1) AS digit_micros
    FROM stripped
    """,
)
def q111_script_profile(spark, sf_dir):
    """Unicode script mix per document (operators/textstats.py
    script_profile): integer-micros fractions of Latin / Cyrillic /
    Greek / Han / Arabic / digit characters — pure per-row JVM regex
    codegen, no shuffle. A non-Latin snippet is injected per doc_id%4
    so every script class is provably exercised; the oracle computes
    the identical arithmetic with RE2's \\p{Script} classes (Java
    spells them \\p{IsScript} — same Unicode tables)."""
    from ..operators.textstats import script_profile

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "),
            F.when(F.col("doc_id") % 4 == 0, F.lit("привет мир"))
            .when(F.col("doc_id") % 4 == 1, F.lit("γειά σου κόσμε"))
            .when(F.col("doc_id") % 4 == 2, F.lit("你好世界"))
            .otherwise(F.lit("مرحبا بالعالم")),
            F.lit(" 2026"),
        ).alias("text"),
    )
    return script_profile(d)


@q(
    "q141_lexical_diversity",
    """
    WITH w AS (
      SELECT lang, unnest(list_filter(
               string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               x -> length(x) > 0)) AS w
      FROM documents
    ),
    wc AS (SELECT lang, w, count(*) AS c FROM w GROUP BY lang, w),
    a AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM wc GROUP BY lang
    )
    SELECT lang, n_tokens, n_types, n_hapax,
           CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_micros,
           CAST(n_hapax * 1000000 // n_types AS BIGINT)
             AS hapax_frac_micros
    FROM a
    """,
)
def q141_lexical_diversity(spark, sf_dir):
    """Per-language lexical-diversity profile
    (operators/textstats.py:lexical_diversity): type-token ratio and
    hapax fraction in integer micros. One (lang, word) map-combined
    groupBy (vocabulary-sized output) + a language-sized rollup —
    never countDistinct over the raw token stream, never a window."""
    from ..operators.textstats import lexical_diversity

    return lexical_diversity(_read(spark, sf_dir, "documents"))


@q(
    "q143_skew_report",
    """
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_rows
      FROM documents GROUP BY source
    ),
    t AS (SELECT count(*) AS tot FROM documents),
    r AS (
      SELECT source, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, source) AS rn,
             sum(n_rows) OVER (ORDER BY n_rows DESC, source
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM c
    )
    SELECT source, n_rows,
           CAST(n_rows * 1000000 // tot AS BIGINT) AS share_micros,
           CAST(cum * 1000000 // tot AS BIGINT) AS cum_share_micros
    FROM r, t WHERE rn <= 8
    """,
)
def q143_skew_report(spark, sf_dir):
    """Join/agg skew diagnostics (operators/stats.py:skew_report): the
    top-8 heaviest `source` keys with individual and cumulative row
    share in micros — the broadcast-vs-salt-vs-AQE decision table.
    Key-sized groupBy → TakeOrderedAndProject top-k → array prefix-sum
    in codegen (NO window, not even a k-row one: a global WindowExec
    would log the single-partition WARN this repo bans from bench
    tails). The oracle uses the window form — hash equality proves the
    array form equivalent."""
    from ..operators.stats import skew_report

    return skew_report(_read(spark, sf_dir, "documents"), "source",
                       topk=8)


@q(
    "q157_wilson_quality",
    """
    WITH a AS (
      SELECT source,
             CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END AS s
      FROM documents
    ),
    g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS successes
      FROM a GROUP BY source
    ),
    p AS (
      SELECT *, CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS ph,
             CAST(n AS DOUBLE) AS nd
      FROM g
    )
    SELECT source, n, successes,
           round(ph, 6) AS p_hat,
           round((ph + (1.96 * 1.96) / (2.0 * nd)
                  - 1.96 * sqrt(ph * (1.0 - ph) / nd
                                + (1.96 * 1.96) / (4.0 * nd * nd)))
                 / (1.0 + (1.96 * 1.96) / nd), 6) AS wilson_lo
    FROM p
    """,
)
def q157_wilson_quality(spark, sf_dir):
    """Per-domain quality rate with Wilson-score LOWER bound
    (operators/textstats.py:wilson_bounds; Wilson 1927): success =
    doc length ≥ 200 chars, grouped by source — the statistically
    honest domain-curation gate (a 3/3 host cannot out-rank a 70/100
    host on the lower bound the way raw rates allow). One map-combined
    partial agg on the domain key; the Wilson arithmetic is per-row
    codegen on the group-cardinality result, written as ONE canonical
    double expression (z² stated as 1.96*1.96 on both sides so the
    doubles are bit-identical) and rounded to 6dp."""
    from ..operators.textstats import wilson_bounds

    d = _read(spark, sf_dir, "documents").select(
        "source", (F.length("text") >= 200).alias("is_good")
    )
    return wilson_bounds(d)


@q(
    "q159_char_entropy",
    """
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ),
    per AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
      FROM ch WHERE c <> '' GROUP BY doc_id, c
    ),
    a AS (
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
             CAST(count(*) AS BIGINT) AS n_distinct_chars,
             CAST(sum(CAST(floor(1e6 * CAST(cnt AS DOUBLE)
                                 * ln(CAST(cnt AS DOUBLE)))
                           AS BIGINT)) AS BIGINT) AS s
      FROM per GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_chars, 0) AS n_chars,
           coalesce(a.n_distinct_chars, 0) AS n_distinct_chars,
           CAST(CASE WHEN a.n_chars > 0 THEN
                  floor(1e6 * ln(CAST(a.n_chars AS DOUBLE))
                        - CAST(a.s AS DOUBLE)
                          / CAST(a.n_chars AS DOUBLE))
                END AS BIGINT) AS entropy_micros
    FROM documents d LEFT JOIN a USING (doc_id)
    """,
)
def q159_char_entropy(spark, sf_dir):
    """Per-document character-distribution Shannon entropy
    (operators/textstats.py:char_entropy) — the base64/binary/minified
    blob detector (natural prose ≈ 2.8-3.1 nats, base64 ≈ ln 64 flat).
    Per-char terms floor(1e6·c·ln c) are quantized BEFORE the sum so
    the per-doc statistic is an order-free BIGINT (q73 discipline);
    only the final ln n − S/n runs in double, replayed canonically by
    the oracle. One (doc, char) map-combined agg + per-doc re-agg;
    empty docs keep a NULL-entropy row via the id-keyed join."""
    from ..operators.textstats import char_entropy

    return char_entropy(_read(spark, sf_dir, "documents"))


@q(
    "q168_term_burstiness",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(trim(regexp_replace(
               text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0)) AS word
      FROM documents
    ),
    pd AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY doc_id, word
    ),
    pw AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS cf,
             CAST(sum(c * c) AS BIGINT) AS c2
      FROM pd GROUP BY word
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
    SELECT word, df, cf,
           (1000000 * (nd * c2 - cf * cf)) // (nd * cf)
             AS burstiness_micros
    FROM pw, n WHERE cf >= 2
    ORDER BY burstiness_micros DESC, word LIMIT 30
    """,
)
def q168_term_burstiness(spark, sf_dir):
    """Term burstiness (operators/textstats.py:term_burstiness; Church
    & Gale 1995 Poisson mixtures): Fisher dispersion of each term's
    per-document count, zeros included — integer-exact
    variance-to-mean in micros. Poisson-scattered glue words sit near
    1e6; topical terms and template-stamped phrases score far above —
    a stopword-free keyword prior and boilerplate-flood detector. Two
    map-combined HashAggregates ((doc,word) then (word) carrying Σc and
    Σc²; the per-doc count table never materializes corpus-wide), N
    broadcast as a 1-row scalar. Top-30 plans as
    TakeOrderedAndProject."""
    from ..operators.textstats import term_burstiness

    d = _read(spark, sf_dir, "documents")
    return term_burstiness(d, min_cf=2).orderBy(
        F.desc("burstiness_micros"), "word"
    ).limit(30)


@q(
    "q171_vocab_concentration",
    """
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split(lower(trim(regexp_replace(
               text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0)) AS w
      FROM documents
    ),
    wc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY source, w
    ),
    g AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * c) AS BIGINT) AS c2
      FROM wc GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           (1000000 * c2) // (n_tokens * n_tokens) AS hhi_micros
    FROM g ORDER BY source
    """,
)
def q171_vocab_concentration(spark, sf_dir):
    """Per-source vocabulary concentration (operators/textstats.py:
    vocab_concentration): Simpson/Herfindahl index of each source's
    unigram distribution — the probability two tokens drawn from the
    source are the same type, exact BIGINT. Concentration reacts to
    the HEAD of the distribution (template phrases) where
    lexical_diversity's TTR reacts to the tail — together they price
    a source's redundancy before per-doc dedup spend. Same two
    map-combined HashAggregates as q141; output is group-sized."""
    from ..operators.textstats import vocab_concentration

    d = _read(spark, sf_dir, "documents")
    return vocab_concentration(d).orderBy("source")


@q(
    "q181_host_lang_entropy",
    """
    WITH d AS (
      SELECT 'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
               AS host, lang
      FROM documents
    ),
    per AS (
      SELECT host, lang, CAST(count(*) AS BIGINT) AS cnt
      FROM d GROUP BY host, lang
    ),
    g AS (
      SELECT host, CAST(sum(cnt) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_labels,
             CAST(sum(CAST(floor(1e6 * cnt * ln(cnt)) AS BIGINT))
                  AS BIGINT) AS s
      FROM per GROUP BY host
    )
    SELECT host, n_docs, n_labels,
           CAST(floor(1e6 * ln(CAST(n_docs AS DOUBLE))
                      - CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE))
                AS BIGINT) AS entropy_micros
    FROM g ORDER BY host
    """,
)
def q181_host_lang_entropy(spark, sf_dir):
    """Per-host language-mix entropy (operators/textstats.py:
    group_label_entropy): monolingual hosts score 0 nats; hosts
    serving machine-translated mirror trees of every language at once
    (the MT-spam farm shape) approach ln k — the site-level curation
    signal that per-doc language ID can't see. Same integer-exact
    entropy decomposition as q159 (per-label terms quantized BEFORE
    the BIGINT sum; one canonical double finish). One (host, lang)
    partial agg + a host rollup — site-count-sized."""
    from ..operators.textstats import group_label_entropy

    d = _read(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        "lang",
    )
    return group_label_entropy(d).orderBy("host")


@q(
    "q191_soft404",
    """
    WITH pages AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN '404 Not Found - Doc ' || doc_id
                  ELSE 'Doc ' || doc_id END AS title,
             CASE WHEN doc_id % 11 = 0
                  THEN 'page not found ' || text
                  ELSE text END AS t
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             regexp_matches(lower(title),
               '(404 not found|page not found|error 404|no longer available|page cannot be found)')
               AS title_404,
             regexp_matches(lower(t),
               '(404 not found|page not found|error 404|no longer available|page cannot be found)')
               AS body_404,
             (SELECT count(*) FROM unnest(string_split(t, ' ')) AS u(w)
              WHERE length(w) > 0) < 30 AS thin_content
      FROM pages
    )
    SELECT doc_id, title_404, body_404, thin_content,
           title_404 OR (body_404 AND thin_content) AS soft404
    FROM f
    """,
)
def q191_soft404(spark, sf_dir):
    """Soft-404 detection (operators/textstats.py:soft404_flags): HTTP-200
    error pages ("page not found" served as a real page -- Bar-Yossef et
    al. WWW'04) are near-duplicate junk that dedup alone finds too late;
    the gate is title-phrase OR (body-phrase AND thin), so prose that
    merely MENTIONS a 404 on a long page survives. Synthesized: every 7th
    doc gets an error title, every 11th an error body lead-in; thinness
    falls out of the corpus's own length spread. Plan: three codegen
    predicates on the row -- no shuffle, no UDF, no join."""
    from ..operators.textstats import soft404_flags

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    pages = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("404 Not Found - Doc "), sid),
        ).otherwise(F.concat(F.lit("Doc "), sid)).alias("title"),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit("page not found "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return soft404_flags(pages)


@q("q192_mojibake_repair", """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN
               text || ' CafÃ© crÃ¨me â€” Ã±oÃ±o â€œ Ã¼ber Â°'
             ELSE text END AS t
      FROM documents
    ),
    chain AS (
      SELECT doc_id, t,
             replace(t, 'â€™', '’') AS t0,
             replace(t0, 'â€œ', '“') AS t1,
             replace(t1, 'â€“', '–') AS t2,
             replace(t2, 'â€”', '—') AS t3,
             replace(t3, 'Ã¡', 'á') AS t4,
             replace(t4, 'Ã©', 'é') AS t5,
             replace(t5, 'Ã­', 'í') AS t6,
             replace(t6, 'Ã³', 'ó') AS t7,
             replace(t7, 'Ãº', 'ú') AS t8,
             replace(t8, 'Ã±', 'ñ') AS t9,
             replace(t9, 'Ã§', 'ç') AS t10,
             replace(t10, 'Ã£', 'ã') AS t11,
             replace(t11, 'Ãµ', 'õ') AS t12,
             replace(t12, 'Ã¢', 'â') AS t13,
             replace(t13, 'Ãª', 'ê') AS t14,
             replace(t14, 'Ã´', 'ô') AS t15,
             replace(t15, 'Ã¼', 'ü') AS t16,
             replace(t16, 'Ã¨', 'è') AS t17,
             replace(t17, 'Â°', '°') AS t18,
             replace(t18, 'Â·', '·') AS t19,
             replace(t19, 'Â ', ' ') AS t20
      FROM aug
    )
    SELECT doc_id, t20 AS repaired_text,
           CAST((length(t) - length(t0)) // 2
               + (length(t0) - length(t1)) // 2
               + (length(t1) - length(t2)) // 2
               + (length(t2) - length(t3)) // 2
               + (length(t3) - length(t4)) // 1
               + (length(t4) - length(t5)) // 1
               + (length(t5) - length(t6)) // 1
               + (length(t6) - length(t7)) // 1
               + (length(t7) - length(t8)) // 1
               + (length(t8) - length(t9)) // 1
               + (length(t9) - length(t10)) // 1
               + (length(t10) - length(t11)) // 1
               + (length(t11) - length(t12)) // 1
               + (length(t12) - length(t13)) // 1
               + (length(t13) - length(t14)) // 1
               + (length(t14) - length(t15)) // 1
               + (length(t15) - length(t16)) // 1
               + (length(t16) - length(t17)) // 1
               + (length(t17) - length(t18)) // 1
               + (length(t18) - length(t19)) // 1
               + (length(t19) - length(t20)) // 1 AS BIGINT) AS n_repairs
    FROM chain
    """)
def q192_mojibake_repair(spark, sf_dir):
    """Mojibake repair (functions/normalize.py:with_repaired_text;
    ftfy's core case as a closed-form table): UTF-8 pages decoded as
    latin-1 upstream leave "A-tilde-copyright"-class digraphs that
    poison tokens, dedup shingles, and embeddings alike. The bounded
    MOJIBAKE_MAP chain repairs the dominant Latin-1 mislabels in pure
    codegen (21 StringReplace nodes in one whole-stage span), and
    n_repairs is exact length-delta arithmetic -- no regex count, no
    second scan, no Python. Mojibake is spliced into every 4th document
    so repairs occur by construction; the oracle replays the identical
    replace chain stepwise and recomputes the same deltas."""
    from ..functions.normalize import with_repaired_text

    d = _read(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(_MOJIBAKE_SPLICE_FULL)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return with_repaired_text(aug).select(
        "doc_id", "repaired_text", "n_repairs"
    )


@q(
    "q196_line_quality",
    """
    WITH aug AS (""" + _Q196_LINES_SQL + """),
    lines AS (
      SELECT doc_id, l FROM (
        SELECT doc_id, unnest(string_split(t, chr(10))) AS l FROM aug
      ) WHERE length(l) > 0
    ),
    g AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN l LIKE '- %' OR l LIKE '* %'
                             OR l LIKE '• %' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nb,
             CAST(sum(CASE WHEN substr(l, -1, 1) IN ('.', '!', '?', '"')
                           THEN 1 ELSE 0 END) AS BIGINT) AS ne,
             CAST(sum(CASE WHEN length(l) < 30 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ns,
             CAST(sum(length(l)) AS BIGINT) AS ch
      FROM lines GROUP BY doc_id
    )
    SELECT doc_id, n_lines,
           nb * 1000000 // n_lines AS bullet_line_micros,
           ne * 1000000 // n_lines AS end_punct_line_micros,
           ns * 1000000 // n_lines AS short_line_micros,
           ch * 1000000 // n_lines AS mean_line_len_micros
    FROM g
    """,
)
def q196_line_quality(spark, sf_dir):
    """Line-level quality signals (operators/textstats.py:
    line_quality_signals; RefinedWeb/FineWeb recipe, Penedo 2023):
    bullet-line, punctuation-terminated-line, and short-line ratios plus
    mean line length, integer micros -- the list-page/navigation-junk
    half of the quality recipe that the word-level Gopher rules can't
    see. Lines are synthesized deterministically (every 5th space
    becomes a break, every 3rd doc leads with a bullet, every doc ends
    sentence-terminated) so all four signals take non-trivial values by
    construction. Plan: one explode + one partial-agg groupBy on the doc
    key -- the gopher_quality_flags shape, no join, no window."""
    from ..operators.textstats import line_quality_signals

    d = _read(spark, sf_dir, "documents")
    base = F.regexp_replace(
        F.concat(F.col("text"), F.lit(" tail end.")),
        r"(\S+ \S+ \S+ \S+ \S+) ",
        "$1\n",
    )
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("- bullet point\n"), base),
        ).otherwise(base).alias("text"),
    )
    return line_quality_signals(aug)


@q(
    "q197_lang_mismatch",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                        w -> length(w) > 0)) AS w
      FROM documents
    ), scores AS (
      SELECT doc_id,
        sum(CASE WHEN w IN ('der','die','und','das','ein','nicht') THEN 1 ELSE 0 END) AS s_de,
        sum(CASE WHEN w IN ('the','and','of','is','this','that','with') THEN 1 ELSE 0 END) AS s_en,
        sum(CASE WHEN w IN ('que','la','de','los','las','una') THEN 1 ELSE 0 END) AS s_es,
        sum(CASE WHEN w IN ('le','la','et','les','des','une') THEN 1 ELSE 0 END) AS s_fr,
        sum(CASE WHEN w IN ('que','de','não','uma','os','das') THEN 1 ELSE 0 END) AS s_pt
      FROM words GROUP BY doc_id
    ), unp AS (
      SELECT doc_id, 'de' AS lg, s_de AS s FROM scores UNION ALL
      SELECT doc_id, 'en', s_en FROM scores UNION ALL
      SELECT doc_id, 'es', s_es FROM scores UNION ALL
      SELECT doc_id, 'fr', s_fr FROM scores UNION ALL
      SELECT doc_id, 'pt', s_pt FROM scores
    ), guess AS (
      SELECT doc_id, CASE WHEN s > 0 THEN lg ELSE 'none' END AS lang_guess
      FROM (
        SELECT doc_id, lg, s,
               row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lg)
                 AS rn
        FROM unp
      ) WHERE rn = 1
    ),
    j AS (
      SELECT d.source, string_split(d.lang, '-')[1] AS decl, g.lang_guess
      FROM documents d JOIN guess g ON d.doc_id = g.doc_id
    ),
    agg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN lang_guess <> 'none' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_guessed,
             CAST(sum(CASE WHEN lang_guess <> 'none'
                             AND lang_guess <> decl THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_mismatch
      FROM j GROUP BY source
    )
    SELECT source, n_docs, n_guessed, n_mismatch,
           CASE WHEN n_guessed > 0
                THEN n_mismatch * 1000000 // n_guessed
                ELSE 0 END AS mismatch_micros
    FROM agg
    """,
)
def q197_lang_mismatch(spark, sf_dir):
    """Declared-vs-detected language audit (operators/textstats.py:
    lang_mismatch_audit): Common-Crawl-style metadata lies (server
    defaults, CMS templates), and per-language curation thresholds
    applied to a mis-routed shard curate the wrong population -- this
    report says, per source, how often content-based lang ID disagrees
    with the declared tag (primary-subtag normalized, abstentions
    excluded). Plan: the q25 marker aggregation + one group-sized
    rollup; no window wider than the doc key, no new shuffle shape."""
    from ..operators.textstats import lang_mismatch_audit

    d = _read(spark, sf_dir, "documents")
    return lang_mismatch_audit(d)


@q("q206_code_detect", """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 THEN text || '' || chr(10) || 'def compute_fn(x):' || chr(10) || '    total_1 = x + 42;' || chr(10) || '    arr_y = [1, 2, 3];' || chr(10) || '    return myValue + total_1;'
                  ELSE text END AS t
      FROM documents
    ),
    rowside AS (
      SELECT doc_id,
             CAST(length(t) AS BIGINT) AS nc,
             CAST(length(t) - length(translate(t, '{}[]();=<>', ''))
                  AS BIGINT) AS sym,
             CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
                  AS BIGINT) AS dig
      FROM aug
    ),
    lines AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nl,
             CAST(sum(CASE WHEN l LIKE '    %' OR l LIKE chr(9) || '%'
                           THEN 1 ELSE 0 END) AS BIGINT) AS ind
      FROM (
        SELECT doc_id, unnest(string_split(t, chr(10))) AS l FROM aug
      ) WHERE length(l) > 0 GROUP BY doc_id
    ),
    toks AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
             CAST(sum(CASE WHEN regexp_matches(w, '^[a-z]+[A-Z]')
                             OR contains(w, '_')
                           THEN 1 ELSE 0 END) AS BIGINT) AS camel
      FROM (
        SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM aug
      ) WHERE length(w) > 0 GROUP BY doc_id
    ),
    j AS (
      SELECT r.doc_id, r.nc, r.sym, r.dig, l.nl, l.ind, tk.nw, tk.camel
      FROM rowside r JOIN lines l ON r.doc_id = l.doc_id
      JOIN toks tk ON r.doc_id = tk.doc_id
    )
    SELECT doc_id,
           sym * 1000000 // nc AS symbol_density_micros,
           ind * 1000000 // nl AS indent_line_micros,
           dig * 1000000 // nc AS digit_micros,
           camel * 1000000 // nw AS camel_token_micros,
           (sym * 1000000 // nc >= 30000)
             AND ((ind * 1000000 // nl >= 200000)
                  OR (camel * 1000000 // nw >= 100000))
             AS looks_like_code
    FROM j
""")
def q206_code_detect(spark, sf_dir):
    """Prose-vs-code routing signals (operators/textstats.py:
    code_detect_signals; the split the StarCoder/Stack pipelines make
    before anything else, because prose quality thresholds gut code and
    code dedup granularity is wrong for prose): structural-symbol
    density, indented-line fraction, digit density, camelCase/snake
    token fraction -- all integer micros, with a documented threshold
    conjunction as the verdict. A code block is spliced into every 9th
    document so both verdicts occur. Plan: densities are
    length-difference arithmetic on the row (translate/regexp_replace,
    no explode); line and token fractions reuse the one-explode
    partial-agg shape; one doc-key join ties them."""
    from ..operators.textstats import code_detect_signals

    d = _read(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(_Q206_CODE_SPLICE)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return code_detect_signals(aug)


@q(
    "q214_shrunk_host_quality",
    """
    WITH d AS (
      SELECT source || '-h' || CAST(doc_id % 7 AS VARCHAR) AS host,
             source AS domain, n_chars
      FROM documents
    ),
    h AS (
      SELECT host, domain, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS s
      FROM d GROUP BY 1, 2
    ),
    dm AS (
      SELECT domain, sum(s) * 1000000 // sum(n_docs)
               AS domain_mean_micros
      FROM h GROUP BY domain
    )
    SELECT h.host, h.domain, h.n_docs,
           h.s * 1000000 // h.n_docs AS mean_micros,
           dm.domain_mean_micros,
           (h.s * 1000000 + 20 * dm.domain_mean_micros)
             // (h.n_docs + 20) AS shrunk_micros
    FROM h JOIN dm USING (domain)
    """,
)
def q214_shrunk_host_quality(spark, sf_dir):
    """Empirical-Bayes shrunk host quality (operators/textstats.py:
    shrunk_group_quality): a thin host's raw mean is noise, so its
    estimate borrows alpha/(n+alpha) from the registered-domain prior
    -- the standard hierarchical-smoothing fix for host-level curation
    decisions at web scale. ONE corpus pass (partial-agg groupBy
    host); the domain prior is computed FROM host aggregates (never a
    second corpus pass) and broadcast back. Integer micros with
    exactly two floors -- engine-exact."""
    from ..operators.textstats import shrunk_group_quality

    d = _read(spark, sf_dir, "documents").select(
        F.concat(
            F.col("source"), F.lit("-h"),
            (F.col("doc_id") % 7).cast("string"),
        ).alias("host"),
        F.col("source").alias("domain"),
        "n_chars",
    )
    return shrunk_group_quality(d, alpha=20)


# --- wave: character coverage / dedup threshold sweep (q251-q252) ------------


@q(
    "q251_char_coverage",
    """
    WITH ch AS (
      SELECT lang AS grp, unnest(string_split(text, '')) AS ch
      FROM documents
    ),
    cc AS (
      SELECT grp, ch, CAST(count(*) AS BIGINT) AS c
      FROM ch WHERE length(ch) > 0 GROUP BY grp, ch
    ),
    rk AS (
      SELECT grp, ch, c,
             row_number() OVER (
               PARTITION BY grp ORDER BY c DESC, ch
             ) AS r,
             CAST(sum(c) OVER (
               PARTITION BY grp ORDER BY c DESC, ch
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS cum
      FROM cc
    ),
    tot AS (
      SELECT grp, CAST(sum(c) AS BIGINT) AS n_chars_total,
             CAST(count(*) AS BIGINT) AS n_distinct_chars
      FROM cc GROUP BY grp
    ),
    hit AS (
      SELECT rk.grp,
             CAST(min(rk.r) AS BIGINT) AS alphabet_size,
             CAST(min_by(rk.cum, rk.r) AS BIGINT) AS cumhit
      FROM rk JOIN tot ON rk.grp = tot.grp
      WHERE rk.cum * 1000000 >= 999500 * tot.n_chars_total
      GROUP BY rk.grp
    )
    SELECT t.grp, t.n_chars_total, t.n_distinct_chars,
           h.alphabet_size,
           h.cumhit * 1000000 // t.n_chars_total AS covered_micros
    FROM tot t JOIN hit h ON t.grp = h.grp
    """,
)
def q251_char_coverage(spark, sf_dir):
    """Per-language character coverage at 0.9995 (operators/
    textstats.py char_coverage -- SentencePiece's character_coverage):
    the alphabet-size budget that separates Latin (dozens of chars)
    from CJK (thousands) and decides byte-fallback per language.
    Chars rank (count DESC, char ASC); the answer is the smallest
    prefix clearing the target in integer cross-multiplied form (no
    division). All windows run over the CHAR-COUNT table partitioned
    by language -- alphabet-sized, never the corpus."""
    from ..operators.textstats import char_coverage

    return char_coverage(
        _read(spark, sf_dir, "documents"), coverage_micros=999_500
    )


# --- wave: Heaps'-law vocabulary growth (q253) -------------------------------


@q(
    "q253_heaps_law",
    """
    WITH d AS (
      SELECT source AS grp, doc_id,
             row_number() OVER (
               PARTITION BY source ORDER BY doc_id
             ) AS pos,
             list_filter(string_split(text, ' '),
                         w -> length(w) > 0) AS toks
      FROM documents
    ),
    tok AS (SELECT grp, pos, unnest(toks) AS tok FROM d),
    first AS (
      SELECT grp, tok, min(pos) AS first_pos
      FROM tok GROUP BY grp, tok
    ),
    dl AS (SELECT grp, pos, CAST(len(toks) AS BIGINT) AS dl FROM d),
    nd AS (SELECT grp, max(pos) AS ndocs FROM d GROUP BY grp),
    cps AS (SELECT unnest([8, 16, 32, 64]) AS cp),
    pts AS (
      SELECT f.grp,
             CAST(floor(1e3 * ln(t.T)) AS BIGINT) AS x,
             CAST(floor(1e9 * ln(f.V)) AS BIGINT) AS y
      FROM (
        SELECT first.grp, cps.cp,
               CAST(sum(CASE WHEN first_pos <= cps.cp THEN 1 ELSE 0
                        END) AS BIGINT) AS V
        FROM first CROSS JOIN cps GROUP BY first.grp, cps.cp
      ) f
      JOIN (
        SELECT dl.grp, cps.cp,
               CAST(sum(CASE WHEN pos <= cps.cp THEN dl ELSE 0
                        END) AS BIGINT) AS T
        FROM dl CROSS JOIN cps GROUP BY dl.grp, cps.cp
      ) t ON f.grp = t.grp AND f.cp = t.cp
      JOIN nd ON nd.grp = f.grp AND nd.ndocs >= f.cp
    ),
    st AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts GROUP BY grp
    )
    SELECT grp, n AS n_points,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             (n * sxy - sx * sy) // (n * sxx - sx * sx)
           END AS beta_micros,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             (sy - ((n * sxy - sx * sy) // (n * sxx - sx * sx)) * sx)
               // n
           END AS lnk_nanos
    FROM st
    """,
)
def q253_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit per source (operators/
    textstats.py heaps_law_fit): V(T) ~ K*T^beta -- beta ~ 0.4-0.6 for
    natural text, ~0 for template farms recycling a closed vocabulary,
    ~1 for hash soup; also the "what does 10x more of this source buy"
    planning number. First-occurrence positions (one partial-agg
    groupBy over the exploded stream) turn every checkpoint's V(n)
    into a conditional sum -- no per-checkpoint distincts; the fit is
    grouped_ols' exact-integer OLS on floored logs with asymmetric
    milli/nano scales so the integer slope IS beta in micros. The only
    corpus-facing window ranks DOCS within a source."""
    from ..operators.textstats import heaps_law_fit

    return heaps_law_fit(_read(spark, sf_dir, "documents"))


# --- wave: Kleinberg burst detection (q264) -----------------------------------


@q(
    "q264_kleinberg_bursts",
    """
    WITH RECURSIVE ev AS (
      SELECT CASE WHEN date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) BETWEEN 10 AND 13
                       AND user_id % 2 = 0
                  THEN 'error' ELSE event_type END AS term,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS t
      FROM events
    ),
    nt AS (SELECT t, CAST(count(*) AS BIGINT) AS N FROM ev GROUP BY 1),
    ntt AS (SELECT term, t, CAST(count(*) AS BIGINT) AS n
            FROM ev GROUP BY 1, 2),
    tt AS (SELECT term, CAST(sum(n) AS BIGINT) AS n_tot
           FROM ntt GROUP BY 1),
    gg AS (SELECT CAST(sum(N) AS BIGINT) AS N_tot FROM nt),
    costs AS (
      SELECT tt.term, nt.t, coalesce(ntt.n, 0) AS n, nt.N,
             CAST(-floor(1e6 * (coalesce(ntt.n, 0)
                  * ln(CAST(tt.n_tot AS DOUBLE) / gg.N_tot)
                  + (nt.N - coalesce(ntt.n, 0))
                  * ln(1.0 - CAST(tt.n_tot AS DOUBLE) / gg.N_tot)))
                  AS BIGINT) AS c0,
             CAST(-floor(1e6 * (coalesce(ntt.n, 0)
                  * ln(least(2.0 * (CAST(tt.n_tot AS DOUBLE)
                                    / gg.N_tot), 0.999999))
                  + (nt.N - coalesce(ntt.n, 0))
                  * ln(1.0 - least(2.0 * (CAST(tt.n_tot AS DOUBLE)
                                          / gg.N_tot), 0.999999))))
                  AS BIGINT) AS c1
      FROM tt CROSS JOIN nt
      LEFT JOIN ntt ON ntt.term = tt.term AND ntt.t = nt.t
      CROSS JOIN gg
    ),
    mx AS (SELECT CAST(max(t) AS BIGINT) AS W1 FROM nt),
    fwd AS (
      SELECT term, t, c0 AS f0, c1 + 2000000 AS f1
      FROM costs WHERE t = 0
      UNION ALL
      SELECT c.term, c.t,
             least(f.f0, f.f1) + c.c0,
             least(f.f0 + 2000000, f.f1) + c.c1
      FROM fwd f JOIN costs c ON c.term = f.term AND c.t = f.t + 1
    ),
    bwd AS (
      SELECT term, t, CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1
      FROM costs, mx WHERE t = W1
      UNION ALL
      SELECT c.term, c.t,
             least(cn.c0 + b.b0, 2000000 + cn.c1 + b.b1),
             least(cn.c0 + b.b0, cn.c1 + b.b1)
      FROM bwd b
      JOIN costs c ON c.term = b.term AND c.t = b.t - 1
      JOIN costs cn ON cn.term = b.term AND cn.t = b.t
    )
    SELECT f.term, f.t, c.n,
           CAST(CASE WHEN f.f1 + b.b1 < f.f0 + b.b0
                THEN 1 ELSE 0 END AS INT) AS burst
    FROM fwd f
    JOIN bwd b ON b.term = f.term AND b.t = f.t
    JOIN costs c ON c.term = f.term AND c.t = f.t
    """,
)
def q264_kleinberg_bursts(spark, sf_dir):
    """Kleinberg 2-state burst detection (operators/stats.py
    kleinberg_bursts; KDD 2002) over the events stream bucketed by
    day, with a four-day synthetic 'error' burst injected (days 10-13,
    even user_ids rerouted) so the automaton has a real spike to find
    and every other term sees a matching dip. Binomial state costs
    quantize to integer micros JVM-side from the exact expression the
    oracle states; the Viterbi runs in EXACT integer arithmetic — one
    applyInPandas per term after a single term-key shuffle (W ints
    cross Arrow, never the event stream), mirrored by the oracle's
    recursive-CTE forward/backward DP. Labels = argmin of F+B totals,
    no backtrack plumbing. Counts are two partial-agg groupBys; the
    grid cross join is |terms| x |days|, dim x dim by construction."""
    from ..operators.stats import kleinberg_bursts

    ev = _read(spark, sf_dir, "events")
    d = F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date"))
    stream = ev.select(
        F.when(d.between(10, 13) & (F.col("user_id") % 2 == 0),
               F.lit("error"))
        .otherwise(F.col("event_type")).alias("term"),
        d.cast("bigint").alias("t"),
    )
    return kleinberg_bursts(stream)


# --- wave: IDN homograph audit (q281) -----------------------------------------


@q(
    "q281_host_script_audit",
    """
    WITH u AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN 'https://example' || doc_id || '.com/p'
               WHEN 1 THEN 'https://exаmple' || doc_id || '.com/p'
               ELSE 'https://xn--80ak6aa92e.com/p' || doc_id END AS url,
             CASE doc_id % 3
               WHEN 0 THEN 'example' || doc_id || '.com'
               WHEN 1 THEN 'exаmple' || doc_id || '.com'
               ELSE 'xn--80ak6aa92e.com' END AS host
      FROM documents
    )
    SELECT url, host,
           CAST(1 AS INT) AS has_latin,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS INT)
             AS has_cyrillic,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END AS INT)
             AS punycode,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS INT)
             AS suspicious
    FROM u
    """,
)
def q281_host_script_audit(spark, sf_dir):
    """IDN-homograph hostname audit (functions/urlnorm.py
    host_script_audit): mixed Latin+Cyrillic hosts (the classic
    exаmple.com spoof) and raw punycode labels flagged before a
    frontier trusts them — crawler-trap and phishing hygiene for the
    url universe. Pure codegen rlike Project; fixture covers clean /
    homograph / punycode thirds closed-form."""
    from ..functions.urlnorm import host_script_audit

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = F.element_at(
        F.array(
            F.concat(F.lit("https://example"), sid, F.lit(".com/p")),
            F.concat(F.lit("https://exаmple"), sid,
                     F.lit(".com/p")),
            F.concat(F.lit("https://xn--80ak6aa92e.com/p"), sid),
        ),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return host_script_audit(d.select(url.alias("url")))


# --- wave: compression-ratio quality signal (q315) ----------------------------


@q(
    "q315_compression_signal",
    """
    SELECT doc_id,
      CASE doc_id % 3 WHEN 0 THEN 320 WHEN 1 THEN 101 ELSE 78 END
        AS n_bytes,
      CASE doc_id % 3 WHEN 0 THEN 20 WHEN 1 THEN 87 ELSE 77 END
        AS n_compressed,
      CASE doc_id % 3 WHEN 0 THEN CAST(62500 AS BIGINT)
        WHEN 1 THEN CAST(861386 AS BIGINT)
        ELSE CAST(987179 AS BIGINT) END AS ratio_micros
    FROM documents
    """,
)
def q315_compression_signal(spark, sf_dir):
    """DEFLATE compression-ratio quality signal (operators/
    textstats.py compression_signal): the long-range redundancy gate
    char-entropy can't provide — templated spam compresses to ~6% of
    raw, prose to ~86%, random-ish text to ~99%. zlib at a fixed
    level is bit-deterministic, so the oracle states the exact
    byte counts for the three fixture strata (values precomputed from
    the same public zlib): a STRICT oracle for a genuinely
    non-SQL-expressible operator. Arrow-batched pandas_udf; plan is
    Scan → ArrowEvalPython → Project, zero shuffle."""
    from ..operators.textstats import compression_signal

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    text = (
        F.when(m == 0, F.lit("buy now " * 40))
        .when(m == 1, F.lit(
            "The committee reviewed the annual extraction report and "
            "published its findings for the member states."))
        .otherwise(F.lit(
            "qz7 xv93 kd2m wq8r fy5t bn1c gh6j pl4s mz0w vt8k xr3d "
            "cn9f jb5h wy2g qk7m dz4v"))
    )
    return compression_signal(d.select("doc_id", text.alias("text")))


# --- wave: citations + math routing (q342-q343) -------------------------------


@q(
    "q342_citation_ids",
    """
    SELECT doc_id, 'doi' AS kind,
           '10.1145/3299869.' || CAST(doc_id AS VARCHAR) AS ident
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 'arxiv', '2403.0' || CAST(1000 + doc_id % 9000
             AS VARCHAR)
    FROM documents WHERE doc_id % 3 = 1
    UNION ALL
    SELECT doc_id, 'pmid', CAST(7000000 + doc_id AS VARCHAR)
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def q342_citation_ids(spark, sf_dir):
    """Scholarly-identifier extraction (operators/textstats.py
    citation_ids): DOIs with trailing-punctuation strip, arXiv new-
    form ids, PMIDs — the peS2o-style academic-corpus router and the
    citation-level decontamination key (a paraphrased abstract still
    cites the same DOI). Fixture: a DOI ending a sentence (the
    trailing period must be stripped), an arXiv+PMID pair on one
    document, and a citation-free stratum emitting nothing; all
    closed-form. Codegen regexp channels + one flatten/explode."""
    from ..operators.textstats import citation_ids

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 3
    text = (
        F.when(m == 0, F.concat(
            F.lit("As shown in doi:10.1145/3299869."), sid,
            F.lit(". More text follows.")))
        .when(m == 1, F.concat(
            F.lit("See arXiv:2403.0"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            F.lit(" and PMID: "),
            (F.lit(7000000) + F.col("doc_id")).cast("string"),
            F.lit(" for details.")))
        .otherwise(F.lit("no citations in this prose at all"))
    )
    return citation_ids(d.select("doc_id", text.alias("text")))


@q(
    "q343_math_signals",
    """
    SELECT doc_id,
      CASE doc_id % 4 WHEN 0 THEN 2 ELSE 0 END AS n_display,
      CASE doc_id % 4 WHEN 1 THEN 1 ELSE 0 END AS n_inline,
      CASE doc_id % 4 WHEN 1 THEN 1 ELSE 0 END AS n_environments,
      CASE doc_id % 4 WHEN 2 THEN 6 ELSE 0 END AS n_math_symbols,
      CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 1 ELSE 0 END AS is_mathy
    FROM documents
    """,
)
def q343_math_signals(spark, sf_dir):
    """Math-content detection for corpus routing (operators/
    textstats.py math_content_signals; the Minerva/DeepSeekMath
    recipe — math docs get boosted sampling and must bypass prose
    quality gates): display blocks ($$…$$ and \\[…\\]), inline
    \\(…\\), LaTeX environments, Unicode math-symbol density with
    the ≥5 threshold. Fixture strata: two display blocks, an
    inline+align pair, symbol-dense prose with no LaTeX, plain text
    whose lone '$5' price must not count. Codegen regexp counts."""
    from ..operators.textstats import math_content_signals

    d = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    text = (
        F.when(m == 0, F.lit(
            "Consider $$x^2+y^2=r^2$$ and also \\[e^{i\\pi}=-1\\] here."))
        .when(m == 1, F.lit(
            "Inline \\(a+b\\) and \\begin{align} x &= y \\end{align}"))
        .when(m == 2, F.lit("sums ∑ and ∫ with ∂ √ ≤ ≥ bounds"))
        .otherwise(F.lit("the price is $5 and that is all"))
    )
    return math_content_signals(d.select("doc_id", text.alias("text")))
