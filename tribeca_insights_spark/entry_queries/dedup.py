"""Exact/near dedup families: MinHash/SimHash/Jaccard/edit-distance/CDC/spans.

Driver-contract queries (split from the monolithic entry_queries.py in r5);
each function is registered into the shared ``QUERIES``/``ORACLE`` dicts by
the ``@q`` decorator from ``_shared`` at import time.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


@q(
    "q16_dedup_exact",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 < 2 THEN 'duplicate content block' ELSE text END AS text
      FROM documents
    )
    SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_id,
           count(*) - 1 AS n_dups
    FROM d GROUP BY sha256(text)
    """,
)
def q16_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash; dup group synthesized deterministically
    (doc_id%7<2 → shared payload) so the group semantics are exercised."""
    from ..operators.dedup import exact_dedup

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 < 2, F.lit("duplicate content block"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return exact_dedup(d)


@q(
    "q17_minhash_bands",
    _MINHASH_CTES + "SELECT doc_id, band, band_key FROM bands",
)
def q17_minhash_bands(spark, sf_dir):
    """MinHash signatures (12 hashes, md5 double-hash family) banded 4×3
    for LSH."""
    from ..operators.dedup import char_shingles, lsh_bands, minhash_signatures

    t = _tokstr_df(spark, sf_dir)
    sh = char_shingles(t, text_col="tok_str", k=12)
    return lsh_bands(minhash_signatures(sh, n_hashes=12), rows_per_band=3)


@q(
    "q18_lsh_candidate_pairs",
    _MINHASH_CTES
    + """
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
)
def q18_lsh_candidate_pairs(spark, sf_dir):
    """LSH candidate pairs: equi-join on band buckets — the 10^12-doc-safe
    candidate generator (never a cross join)."""
    from ..operators.dedup import (
        char_shingles,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    t = _tokstr_df(spark, sf_dir)
    bands = lsh_bands(
        minhash_signatures(char_shingles(t, text_col="tok_str", k=12), n_hashes=12),
        rows_per_band=3,
    )
    return lsh_candidate_pairs(bands)


@q(
    "q19_ngram_jaccard",
    _MINHASH_CTES.replace("WHERE length(tok_str) > 0",
                          "WHERE length(tok_str) > 0 AND doc_id < 100")
    + """
    , sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
    , inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id,
           round(n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.2
    """,
)
def q19_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard over char-12-gram shingle sets (bounded sample:
    doc_id<100 — at scale this runs on LSH candidates, not all pairs)."""
    from ..operators.dedup import char_shingles, ngram_jaccard_pairs

    t = _tokstr_df(spark, sf_dir).filter(F.col("doc_id") < 100)
    sh = char_shingles(t, text_col="tok_str", k=12)
    return ngram_jaccard_pairs(sh, min_jaccard=0.2)


@q("q20_simhash", _SIMHASH_CTES + "SELECT doc_id, simhash FROM simhashes")
def q20_simhash(spark, sf_dir):
    """32-bit weighted SimHash per document (md5-hex bit family)."""
    from ..operators.dedup import simhash32

    t = _tokens_df(spark, sf_dir)
    tc = (
        t.select("doc_id", F.explode("tokens").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return simhash32(tc)


@q(
    "q21_simhash_near_pairs",
    _SIMHASH_CTES
    + """
    , bands AS (
      SELECT doc_id, simhash, j AS band,
             (simhash // CAST(power(2, j * 8) AS BIGINT)) % 256 AS band_val
      FROM simhashes CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
)
def q21_simhash_near_pairs(spark, sf_dir):
    """SimHash near-dup pairs: banded pigeonhole candidates (4×8 bits)
    verified by Hamming distance ≤ 6."""
    from ..operators.dedup import simhash32, simhash_near_pairs

    t = _tokens_df(spark, sf_dir)
    tc = (
        t.select("doc_id", F.explode("tokens").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return simhash_near_pairs(simhash32(tc), max_hamming=6)


@q(
    "q28_fingerprints",
    """
    WITH norm AS (SELECT doc_id, lower(text) AS s FROM documents),
    grams AS (
      SELECT doc_id, md5(substr(s, i, 16)) AS gh
      FROM (SELECT doc_id, s,
                   unnest(range(1, greatest(length(s) - 15, 1) + 1)) AS i
            FROM norm)
    )
    SELECT n.doc_id, md5(n.s) AS content_md5, m.min_gram_hash
    FROM norm n JOIN (SELECT doc_id, min(gh) AS min_gram_hash
                      FROM grams GROUP BY doc_id) m USING (doc_id)
    """,
)
def q28_fingerprints(spark, sf_dir):
    """Content md5 + min char-16-gram hash fingerprint (winnowing-lite)."""
    from ..operators.textstats import fingerprints

    return fingerprints(_read(spark, sf_dir, "documents"), k=16)


@q(
    "q50_dedup_clusters",
    """
    SELECT doc_id, doc_id - doc_id % 4 AS rep,
           doc_id % 4 = 0 AS is_keeper
    FROM documents
    """,
)
def q50_dedup_clusters(spark, sf_dir):
    """Connected components over near-dup pairs → duplicate clusters with
    min-id representatives (iterative min-label propagation, all joins).
    Edge list synthesized as chains of 4 consecutive ids, so the expected
    labeling is closed-form."""
    from ..operators.dedup import dedup_clusters

    d = _read(spark, sf_dir, "documents")
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"))
    pairs = (
        d.filter(F.col("doc_id") % 4 != 3)
        .join(nxt, "doc_id", "left_semi")  # (id, id+1) only when id+1 exists
        .select(
            F.col("doc_id").alias("a_id"),
            (F.col("doc_id") + 1).alias("b_id"),
        )
    )
    return dedup_clusters(pairs, d)


@q(
    "q56_paragraph_dedup",
    """
    WITH base AS (
      SELECT doc_id,
             text || chr(10) || 'Shared boilerplate paragraph'
                  || chr(10) || 'Unique ' || CAST(doc_id AS VARCHAR) AS t
      FROM documents
    ), paras AS (
      SELECT doc_id, i AS pos, ps[i] AS para
      FROM (SELECT doc_id, string_split(t, chr(10)) AS ps,
                   unnest(range(1, len(string_split(t, chr(10))) + 1)) AS i
            FROM base)
      WHERE length(trim(ps[i])) > 0
    ), pc AS (
      SELECT para, count(DISTINCT doc_id) AS nd FROM paras GROUP BY para
    ), marked AS (
      SELECT p.doc_id, p.pos, p.para, (pc.nd > 1) AS dup
      FROM paras p JOIN pc USING (para)
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN NOT dup THEN para END,
                               chr(10) ORDER BY pos), '') AS kept_text,
           count(*) AS n_paras,
           CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM marked GROUP BY doc_id
    """,
)
def q56_paragraph_dedup(spark, sf_dir):
    """C4-style corpus-wide paragraph dedup: a boilerplate paragraph is
    appended to EVERY doc (so it provably occurs in >1 doc and is dropped
    everywhere) plus a per-doc unique paragraph (provably kept). Keys, not
    paragraph texts, cross the shuffle; reassembly is position-sorted."""
    from ..operators.dedup import paragraph_dedup

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\nShared boilerplate paragraph\nUnique "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return paragraph_dedup(d)


# --- LLM-pipeline extensions (round 3 cont.): retention, budgets, ---------
# --- classifier scoring, normalization, domain rollup, url hygiene ---------


@q(
    "q75_dedup_keep_best",
    """
    WITH d AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '[^a-z]', '', 'g'))
               AS cluster_key,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT cluster_key, keeper_doc_id, n_chars, cluster_size FROM (
      SELECT cluster_key, doc_id AS keeper_doc_id, n_chars,
             CAST(count(*) OVER (PARTITION BY cluster_key) AS BIGINT)
               AS cluster_size,
             row_number() OVER (
               PARTITION BY cluster_key ORDER BY n_chars DESC, doc_id
             ) AS rk
      FROM d
    ) WHERE rk = 1
    """,
)
def q75_dedup_keep_best(spark, sf_dir):
    """Duplicate-cluster retention (operators/dedup.py keep_best): cluster
    on the case/punctuation-insensitive content key, keep the longest copy
    (lowest doc_id on ties). groupBy+max(struct) — map-side combine, so a
    10^6-copy boilerplate cluster reduces before the shuffle; the oracle
    states the same argmax with a window."""
    from ..operators.dedup import keep_best

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), "[^a-z]", "")).alias(
            "cluster_key"
        ),
        F.length("text").cast("long").alias("n_chars"),
    )
    return keep_best(d, "cluster_key", "n_chars")


@q(
    "q97_exact_substring_dedup",
    """
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(trim(text), ' '),
                                  w -> w <> '') AS tk
               FROM documents),
    g AS (SELECT doc_id, i AS start,
                 array_to_string(tk[i:i+7], ' ') AS gram
          FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk) - 7))
                           AS i)
          WHERE len(tk) >= 8),
    o AS (SELECT doc_id, start,
                 row_number() OVER (PARTITION BY gram
                                    ORDER BY doc_id, start) AS rn,
                 count(*) OVER (PARTITION BY gram) AS c
          FROM g),
    cov AS (SELECT DISTINCT doc_id, p
            FROM o, LATERAL (SELECT unnest(generate_series(start,
                                                           start + 7))
                             AS p)
            WHERE c > 1 AND rn > 1),
    tokpos AS (SELECT doc_id, p, tk[p] AS w
               FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)))
                                AS p)),
    kept AS (SELECT tp.doc_id, tp.p, tp.w
             FROM tokpos tp
             LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.p
             WHERE cov.p IS NULL),
    reb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS txt,
                   count(*) AS nk
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(reb.txt, '') AS deduped_text,
           CAST(len(t.tk) AS INT) AS n_tokens,
           CAST(len(t.tk) - coalesce(reb.nk, 0) AS INT) AS n_removed
    FROM t LEFT JOIN reb ON reb.doc_id = t.doc_id
    """,
)
def q97_exact_substring_dedup(spark, sf_dir):
    """Exact substring deduplication at 8-gram granularity
    (operators/dedup.py dedup_exact_substring; Lee et al. 2022 /
    RefinedWeb span-level tier): every duplicated 8-token span is excised
    from all occurrences except the corpus-first, documents re-assembled
    from surviving tokens. The corpus carries ~1000 naturally duplicated
    8-grams at sf0.01, so the oracle COMPUTES the same keep-first
    coverage (window rank ≡ the operator's partial-agg min-struct pick)
    rather than assuming injected duplicates. Canonical pick is a
    mergeable MIN — no corpus-wide sort; all joins key on (gram) or
    (doc_id, p)."""
    from ..operators.dedup import dedup_exact_substring

    d = _read(spark, sf_dir, "documents")
    return dedup_exact_substring(d, k=8)


@q(
    "q105_image_dhash",
    """
    WITH p AS (SELECT doc_id,
                      17 + doc_id % 97 AS a,
                      5 + doc_id % 31 AS b
               FROM documents),
    b AS (
      SELECT doc_id, y.i AS y, x.i AS x,
             CASE WHEN (2 * x.i * a + 2 * y.i * b) % 256
                     > (2 * (x.i + 1) * a + 2 * y.i * b) % 256
                  THEN 1 ELSE 0 END AS bit
      FROM p,
           (SELECT unnest(range(8)) AS i) y,
           (SELECT unnest(range(8)) AS i) x
    ),
    h AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN y * 8 + x < 32
                           THEN bit * (CAST(1 AS BIGINT)
                                       << (31 - (y * 8 + x)))
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN y * 8 + x >= 32
                           THEN bit * (CAST(1 AS BIGINT)
                                       << (63 - (y * 8 + x)))
                           ELSE 0 END) AS BIGINT) AS lo
      FROM b GROUP BY doc_id
    )
    SELECT doc_id, printf('%08x%08x', hi, lo) AS dhash FROM h
    """,
)
def q105_image_dhash(spark, sf_dir):
    """Perceptual image fingerprint (operators/multimodal.image_dhash —
    REAL PNG decode + grey + 9×8 nearest-neighbor downscale + dHash, not
    a stub): 64-bit difference hash per image, the standard near-dup key
    for image corpora; Hamming banding composes with the SimHash
    machinery for corpus-scale candidate pairs. Fixture: 18×16 greys
    with px(x,y) = (x·a + y·b) mod 256, per-doc multipliers — wrap-rich,
    471 distinct hashes over 500 docs — and the 9×8 downscale sampling
    every second pixel (sx = 2x, sy = 2y by resize_nearest's floor-div
    mapping) keeps all 64 comparison bits closed-form. Only a real
    decoder + downscaler reproduces the hex."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from ..imagex import encode_png
    from ..operators.multimodal import image_dhash

    def _png_batch(doc_id):
        out = []
        for i in doc_id:
            a, b = 17 + int(i) % 97, 5 + int(i) % 31
            px = bytes(
                (x * a + y * b) % 256
                for y in range(16)
                for x in range(18)
            )
            out.append(encode_png(px, 18, 16, 1))
        return pd.Series(out)

    png_udf = pandas_udf(_png_batch, BinaryType())
    media = _read(spark, sf_dir, "documents").select(
        "doc_id", png_udf(F.col("doc_id")).alias("payload")
    )
    return image_dhash(media).select("doc_id", "dhash")


@q(
    "q106_incremental_dedup",
    _Q106_CTES
    + """
    , idx AS (SELECT doc_id, band, band_key FROM bands
              WHERE doc_id % 3 <> 0)
    , newb AS (SELECT doc_id, band, band_key FROM bands
               WHERE doc_id % 3 = 0)
    , hits AS (SELECT n.doc_id, min(i.doc_id) AS matched_old_id
               FROM newb n
               JOIN idx i ON i.band = n.band AND i.band_key = n.band_key
               GROUP BY n.doc_id)
    SELECT nd.doc_id,
           h.matched_old_id IS NOT NULL AS is_dup,
           h.matched_old_id
    FROM (SELECT DISTINCT doc_id FROM newb) nd
    LEFT JOIN hits h USING (doc_id)
    """,
)
def q106_incremental_dedup(spark, sf_dir):
    """Incremental cross-run dedup (operators/dedup.py
    dedup_against_index; VERDICT r3 #4 — the RefinedWeb/FineWeb
    production shape): run 1 (doc_id % 3 <> 0) persists its MinHash
    band index; run 2 (doc_id % 3 = 0) is deduped by ONE equi-join of
    its bands against that index — run-1 text is never re-read (pinned
    by a parquet-plan test in tests/test_dedup_similarity.py). The
    injected shared payload (doc_id % 10 = 0) guarantees cross-run
    duplicates; the oracle computes both runs' bands closed-form with
    the same md5 double-hash family and states the verdict per new
    doc."""
    from ..operators.dedup import (
        char_shingles,
        dedup_against_index,
        lsh_bands,
        minhash_signatures,
    )

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang",
        F.when(F.col("doc_id") % 10 == 0, F.lit(_Q106_PAYLOAD))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    t = with_tokens(d).select(
        "doc_id", F.concat_ws(" ", "tokens").alias("tok_str")
    )
    bands = lsh_bands(
        minhash_signatures(
            char_shingles(t, text_col="tok_str", k=12), n_hashes=12
        ),
        rows_per_band=3,
    )
    idx = bands.filter(F.col("doc_id") % 3 != 0)
    newb = bands.filter(F.col("doc_id") % 3 == 0)
    return dedup_against_index(newb, idx)


@q("q115_semdedup", _semdedup_oracle(k=8, iters=2, tau=0.99))
def q115_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023; operators/semdedup.py): deterministic
    Lloyd k-means confines candidate pairs to clusters (the equi-join on
    cid IS the scale bound — production picks k ≈ √n), cosine is exact
    integer-micros arithmetic plus three IEEE-rounded double ops, and
    keep-min-id drops every vector with a smaller near-identical
    neighbor. 50 synthesized duplicates (v×1.001 at vec_id+10000) make
    the detector provably fire; the oracle replays the ENTIRE pipeline —
    training included — closed-form."""
    from ..operators.semdedup import semdedup

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    dups = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    allv = emb.unionByName(dups)
    return semdedup(allv, k=8, iters=2, tau=0.99)


@q(
    "q129_prefix_jaccard_join",
    """
    WITH g AS (
      SELECT DISTINCT doc_id, substr(text, i, 12) AS gram
      FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - 11, 1) + 1))
                     AS i
            FROM documents WHERE length(text) > 0)
    ),
    s AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    i AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id, n_inter,
           CAST(sa.n + sb.n - n_inter AS BIGINT) AS n_union,
           CAST((n_inter * 1000000) // (sa.n + sb.n - n_inter)
                AS BIGINT) AS jaccard_micros
    FROM i JOIN s sa ON i.a_id = sa.doc_id
           JOIN s sb ON i.b_id = sb.doc_id
    WHERE n_inter * 1000000 >= 500000 * (sa.n + sb.n - n_inter)
    """,
)
def q129_prefix_jaccard_join(spark, sf_dir):
    """EXACT set-similarity self-join without MinHash
    (operators/dedup.py:prefix_jaccard_join; Bayardo All-Pairs WWW'07 /
    PPJoin): every doc pair with char-12-gram Jaccard ≥ 0.5. Prefix
    filtering under a rarest-first global token order makes candidate
    keys maximally skew-resistant (hot shingles never become join
    keys); completeness holds by the ceil-superadditive t/(1+t) prefix
    bound, all arithmetic BIGINT. The ORACLE verifies against the
    brute-force all-pairs join — the driver hash-matching proves the
    prefix filter dropped no qualifying pair on this corpus."""
    from ..operators.dedup import char_shingles, prefix_jaccard_join

    # one-row-group scan = one task; spread rows before the heavy
    # row-local 12-gram shingling (all downstream aggs order-free)
    d = _read(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    grams = char_shingles(d, text_col="text", k=12)
    return prefix_jaccard_join(
        grams, threshold_micros=500_000, token_col="gram",
        materialize=True,
    )


@q(
    "q140_edit_distance_neardup",
    _SIMHASH_CTES.replace(
        "FROM documents", "FROM documents WHERE doc_id % 2 = 0", 1
    )
    + """
    , bands AS (
      SELECT doc_id, simhash, j AS band,
             (simhash // CAST(power(2, j * 8) AS BIGINT)) % 256
               AS band_val
      FROM simhashes CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    lv AS (
      SELECT c.a_id, c.b_id, c.hamming,
             CAST(levenshtein(da.text, db.text) AS INT) AS lev,
             greatest(length(da.text), length(db.text)) AS mx
      FROM cand c
      JOIN documents da ON da.doc_id = c.a_id
      JOIN documents db ON db.doc_id = c.b_id
    )
    SELECT a_id, b_id, hamming, lev,
           CAST(CASE WHEN mx = 0 THEN 1000000
                     ELSE ((mx - lev) * 1000000) // mx END
                AS BIGINT) AS edit_sim_micros
    FROM lv
    WHERE (CASE WHEN mx = 0 THEN 1000000
                ELSE ((mx - lev) * 1000000) // mx END) >= 500000
    """,
)
def q140_edit_distance_neardup(spark, sf_dir):
    """Edit-distance-verified near-duplicates on the doc_id%2 audit
    slice (operators/dedup.py:edit_distance_verify composed behind
    simhash_near_pairs): SimHash banded candidates (Hamming ≤ 3)
    verified by exact Levenshtein, kept at ≥ 50% character edit
    similarity. Three cost bounds stack: banded candidates (never
    corpus pairs), a length gate (lev ≥ |len gap| kills the DP before
    it runs), and Spark's THRESHOLDED banded levenshtein
    (O(k·min(n,m)) early exit, −1 past the band) — the full-corpus
    unbounded form measured 956 s at sf0.1; this shape is seconds."""
    from ..operators.dedup import (
        edit_distance_verify,
        simhash32,
        simhash_near_pairs,
    )

    # spread the one-row-group scan BEFORE Arrow tokenization so the
    # simhash signature build parallelizes (tokens compute in the scan
    # stage otherwise — one task at bench SFs)
    d0 = _read(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = with_tokens(d0).filter(F.col("doc_id") % 2 == 0)
    tc = (
        t.select("doc_id", F.explode("tokens").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    # materialize the signature table once: its lineage (Arrow-UDF
    # tokenization) would otherwise replay on BOTH sides of the band
    # self-join and again under the verify join — measured 80 s → 17 s
    # at sf0.1. At corpus scale this is a persisted signature table.
    sig = simhash32(tc).localCheckpoint(eager=False)
    pairs = simhash_near_pairs(sig, max_hamming=3)
    d = _read(spark, sf_dir, "documents")
    return edit_distance_verify(pairs, d, min_sim_micros=500_000)


@q(
    "q148_canonical_url_dedup",
    """
    WITH canon AS (
      SELECT doc_id,
             'http://' || source || '.example.com/Docs/' || doc_id ||
               CASE CAST(doc_id % 3 AS INT)
                 WHEN 0 THEN '?a=1&b=2'
                 WHEN 1 THEN '?z=9'
                 ELSE '' END AS canon
      FROM documents
    ),
    variants AS (
      SELECT doc_id, canon,
             'HTTP://' || source || '.Example.COM:80/Docs/' || doc_id ||
               CASE CAST(doc_id % 3 AS INT)
                 WHEN 0 THEN '?utm_source=feed&b=2&a=1'
                 WHEN 1 THEN '?gclid=' || doc_id || '&z=9'
                 ELSE '?utm_campaign=x&fbclid=y' END
               || '#frag' || doc_id AS url
      FROM documents JOIN canon USING (doc_id)
      UNION ALL
      SELECT doc_id, canon,
             'http://' || source || '.example.com/Docs/' || doc_id ||
               CASE CAST(doc_id % 3 AS INT)
                 WHEN 0 THEN '?b=2&a=1'
                 WHEN 1 THEN '?z=9&utm_medium=email'
                 ELSE '' END
               || '#x' AS url
      FROM documents JOIN canon USING (doc_id)
    )
    SELECT canon, min(url) AS keeper_url,
           CAST(count(DISTINCT url) AS BIGINT) AS n_variants
    FROM variants GROUP BY canon
    """,
)
def q148_canonical_url_dedup(spark, sf_dir):
    """Frontier URL-cluster dedup
    (functions/urlnorm.py:canonical_url_dedup): two synthesized raw
    variants per page (tracking-laden uppercase-host + clean
    reordered-query) collapse to one canonical fetch key. Per-row
    codegen canonicalization + one map-combined groupBy — the
    exact_dedup plan with the canonical string as the content hash."""
    from ..functions.urlnorm import canonical_url_dedup

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    messy = F.concat(
        F.lit("HTTP://"), F.col("source"),
        F.lit(".Example.COM:80/Docs/"), sid,
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("?utm_source=feed&b=2&a=1"))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("?gclid="), sid, F.lit("&z=9")))
        .otherwise(F.lit("?utm_campaign=x&fbclid=y")),
        F.lit("#frag"), sid,
    )
    clean = F.concat(
        F.lit("http://"), F.col("source"),
        F.lit(".example.com/Docs/"), sid,
        F.when(F.col("doc_id") % 3 == 0, F.lit("?b=2&a=1"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?z=9&utm_medium=email"))
        .otherwise(F.lit("")),
        F.lit("#x"),
    )
    urls = d.select(messy.alias("url")).unionByName(
        d.select(clean.alias("url"))
    )
    return canonical_url_dedup(urls, strip_tracking=True)


@q(
    "q149_dedup_eval",
    _MINHASH_CTES.replace(
        "WHERE length(tok_str) > 0",
        "WHERE length(tok_str) > 0 AND doc_id % 5 = 0",
    )
    + """
    , cand AS (
      SELECT DISTINCT a.doc_id AS ca, b.doc_id AS cb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    tr0 AS (
      SELECT a.doc_id AS ta, b.doc_id AS tb, count(*) AS ni
      FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT ta, tb FROM tr0
      JOIN sz sa ON sa.doc_id = ta JOIN sz sb ON sb.doc_id = tb
      WHERE round(ni / CAST(sa.sz + sb.sz - ni AS DOUBLE), 6) >= 0.2
    ),
    j AS (
      SELECT cand.ca, truth.ta
      FROM cand FULL OUTER JOIN truth
        ON cand.ca = truth.ta AND cand.cb = truth.tb
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN ta IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_truth,
             CAST(sum(CASE WHEN ca IS NOT NULL AND ta IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN ca IS NOT NULL AND ta IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN ca IS NULL AND ta IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM j
    )
    SELECT *,
           CASE WHEN n_candidates > 0
                THEN tp * 1000000 // n_candidates END
             AS precision_micros,
           CASE WHEN n_truth > 0 THEN tp * 1000000 // n_truth END
             AS recall_micros
    FROM agg
    """,
)
def q149_dedup_eval(spark, sf_dir):
    """Candidate-generator quality evaluation on a labeled slice
    (operators/dedup.py:dedup_eval): MinHash-LSH band candidates vs
    exact 12-gram Jaccard ≥ 0.2 ground truth over the doc_id%5 slice —
    tp/fp/fn + precision/recall micros in ONE full-outer pair join +
    a 1-row aggregate. The measurement loop that makes band/row
    parameter changes an engineering decision instead of a guess; the
    brute-force truth join is slice-bounded by construction."""
    from ..operators.dedup import (
        char_shingles,
        dedup_eval,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    t = _tokstr_df(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    sh = char_shingles(t, text_col="tok_str", k=12)
    cand = lsh_candidate_pairs(
        lsh_bands(minhash_signatures(sh, n_hashes=12), rows_per_band=3)
    )
    truth = ngram_jaccard_pairs(sh, min_jaccard=0.2).select(
        "a_id", "b_id"
    )
    return dedup_eval(cand, truth)


@q(
    "q151_containment_join",
    """
    WITH g AS (
      SELECT DISTINCT doc_id, substr(text, i, 12) AS gram
      FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - 11, 1) + 1))
                     AS i
            FROM documents WHERE length(text) > 0)
    ),
    s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
          FROM g GROUP BY doc_id),
    i AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id, n_inter, s.n AS n_a,
           CAST((n_inter * 1000000) // s.n AS BIGINT)
             AS containment_micros
    FROM i JOIN s ON i.a_id = s.doc_id
    WHERE n_inter * 1000000 >= 800000 * s.n
    """,
)
def q151_containment_join(spark, sf_dir):
    """EXACT directed set-CONTAINMENT self-join
    (operators/dedup.py:containment_join; set-containment-join
    literature — Melnik & Garcia-Molina TODS'03 — under the All-Pairs
    prefix discipline): every ordered doc pair with char-12-gram
    containment |A∩B|/|A| ≥ 0.8. Asymmetric: catches quote-inclusion
    and snippet-vs-article duplication invisible to Jaccard (q129).
    Prefix filter applies to the contained side only; the containing
    side's postings are semi-join-pruned to A-prefix (rare) tokens so
    corpus stopword grams never become join keys. The ORACLE is the
    brute-force directed all-pairs join — hash-matching proves the
    prefix+semi-join pruning dropped no qualifying pair."""
    from ..operators.dedup import char_shingles, containment_join

    # spread the one-row-group scan before row-local shingling
    d = _read(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    grams = char_shingles(d, text_col="text", k=12)
    return containment_join(
        grams, threshold_micros=800_000, token_col="gram",
        materialize=True,
    )


@q(
    "q155_line_dedup",
    """
    WITH aug AS (
      SELECT doc_id,
             'promo ' || (doc_id % 4) || chr(10) || substr(text, 1, 40)
             || chr(10) || 'promo ' || (doc_id % 4) || chr(10)
             || 'subscribe' || chr(10) || 'subscribe' AS t
      FROM documents
    ),
    ls AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM aug),
    e AS (
      SELECT doc_id, l[i] AS line, i, len(l) AS n0
      FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM ls)
    ),
    f AS (
      SELECT doc_id, line, min(i) AS fi, min(n0) AS n0
      FROM e GROUP BY doc_id, line
    )
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY fi) AS text,
           CAST(min(n0) AS INT) AS n_lines,
           CAST(count(*) AS INT) AS n_kept
    FROM f GROUP BY doc_id
    """,
)
def q155_line_dedup(spark, sf_dir):
    """WITHIN-document repeated-line removal, first occurrence kept
    (operators/dedup.py:dedup_lines_within_doc) — the CCNet/RefinedWeb
    page-cleaning step that strips per-page repeated chrome before
    corpus dedup. Every doc gets a deterministic repeated promo line and
    a doubled 'subscribe' footer spliced in; the operator must remove
    exactly the repeats in document order. Pure per-row codegen
    (split → array_distinct → array_join), zero shuffle at any corpus
    size; the ORACLE restates first-occurrence semantics positionally
    (min(i) + ordered string_agg), so hash-matching pins
    array_distinct's keep-first order."""
    from ..operators.dedup import dedup_lines_within_doc

    d = _read(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("promo "), (F.col("doc_id") % 4).cast("string")),
            F.substring("text", 1, 40),
            F.concat(F.lit("promo "), (F.col("doc_id") % 4).cast("string")),
            F.lit("subscribe"),
            F.lit("subscribe"),
        ).alias("text"),
    )
    return dedup_lines_within_doc(aug)


@q(
    "q163_winnowing",
    """
    WITH g AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(length(text) - 7, 0) + 1),
               i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 8))
                      ::BIGINT) AS hs
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(hs) - 3, 0) + 1),
               j -> struct_pack(
                 j := j,
                 p := list_min(list_transform([0, 1, 2, 3],
                        o -> hs[j + o] * 4 + (3 - o)))))) AS u
      FROM g
    )
    SELECT DISTINCT doc_id,
           CAST(u.j + (3 - u.p % 4) AS INT) AS pos,
           CAST(u.p // 4 AS BIGINT) AS fp
    FROM s
    """,
)
def q163_winnowing(spark, sf_dir):
    """Winnowing fingerprints (operators/textstats.py:
    winnowing_fingerprints; Schleimer-Wilkerson-Aiken SIGMOD'03, the
    MOSS algorithm): char-8-gram hashes, window-4 minimum selection
    with the rightmost-on-ties robust rule — every shared substring of
    length ≥ 11 is guaranteed a shared fingerprint at ~2/5 full-gram
    density. Selection is engine-exact via the hash·w+(w−1−offset)
    integer pack (no struct-comparison semantics to align); the whole
    operator is per-row array codegen, zero shuffle, zero Python. The
    ORACLE replays pack, min, decode, and distinct verbatim."""
    from ..operators.textstats import winnowing_fingerprints

    return winnowing_fingerprints(
        _read(spark, sf_dir, "documents"), k=8, w=4
    )


@q(
    "q164_host_dup_rate",
    """
    WITH pages AS (
      SELECT 'h' || (doc_id % 5) || '.example.com' AS host, text
      FROM documents
      UNION ALL
      SELECT 'h' || (doc_id % 5) || '.example.com', text
      FROM documents WHERE doc_id % 3 = 0
    ),
    a AS (
      SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
             CAST(count(DISTINCT md5(text)) AS BIGINT)
               AS n_unique_texts
      FROM pages GROUP BY host
    )
    SELECT host, n_pages, n_unique_texts,
           (n_pages - n_unique_texts) * 1000000 // n_pages
             AS dup_rate_micros
    FROM a
    """,
)
def q164_host_dup_rate(spark, sf_dir):
    """Per-host duplicate-rate report card (operators/dedup.py:
    host_dup_rate): every third document is duplicated within its host,
    and the report prices each host's redundancy — the "cap or drop
    this 90%-duplicated host" decision made BEFORE spending per-doc
    dedup effort. Text reduces to md5 in the scan Project; one distinct
    + one host agg, both map-combined."""
    from ..operators.dedup import host_dup_rate

    d = _read(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com"),
    )
    base = d.select(host.alias("host"), "text")
    dups = d.filter(F.col("doc_id") % 3 == 0).select(
        host.alias("host"), "text"
    )
    return host_dup_rate(base.unionByName(dups))


@q(
    "q170_dedup_agreement",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 < 2 THEN 'duplicate content block'
                  ELSE text END AS text
      FROM documents
    ),
    fa AS (
      SELECT doc_id,
             CASE WHEN count(*) OVER (PARTITION BY md5(text)) > 1
                  THEN 1 ELSE 0 END AS flag
      FROM d
    ),
    sh AS (
      SELECT DISTINCT doc_id, substr(text, i, 12) AS gram
      FROM (
        SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 11, 1) + 1)) AS i
        FROM d WHERE length(text) >= 12
      )
    ),
    hsh AS (
      SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 8))::BIGINT AS ha,
             ('0x' || substr(md5(gram), 9, 8))::BIGINT AS hb
      FROM sh
    ),
    mh AS (
      SELECT doc_id, seed, min((ha + seed * hb) % 4294967296) AS mhv
      FROM hsh CROSS JOIN (SELECT unnest(range(0, 12)) AS seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // 3 AS INT) AS band,
             string_agg(lower(lpad(hex(mhv), 8, '0')), ''
                        ORDER BY seed) AS band_key
      FROM mh GROUP BY doc_id, CAST(seed // 3 AS INT)
    ),
    part AS (
      SELECT DISTINCT x.doc_id
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.band_key = y.band_key
       AND x.doc_id <> y.doc_id
    ),
    fb AS (
      SELECT d.doc_id,
             CASE WHEN part.doc_id IS NOT NULL THEN 1 ELSE 0 END AS flag
      FROM d LEFT JOIN part ON d.doc_id = part.doc_id
    ),
    j AS (
      SELECT fa.flag AS x, fb.flag AS y
      FROM fa JOIN fb ON fa.doc_id = fb.doc_id
    ),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00,
             CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01,
             CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
             CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11
      FROM j
    )
    SELECT n00, n01, n10, n11,
           CASE WHEN n * n - ((n00 + n01) * (n00 + n10)
                  + (n10 + n11) * (n01 + n11)) = 0 THEN NULL
                WHEN n * (n00 + n11) - ((n00 + n01) * (n00 + n10)
                  + (n10 + n11) * (n01 + n11)) >= 0
                THEN (1000000 * (n * (n00 + n11) - ((n00 + n01)
                      * (n00 + n10) + (n10 + n11) * (n01 + n11))))
                     // (n * n - ((n00 + n01) * (n00 + n10)
                      + (n10 + n11) * (n01 + n11)))
                ELSE -((1000000 * (((n00 + n01) * (n00 + n10)
                      + (n10 + n11) * (n01 + n11)) - n * (n00 + n11)))
                     // (n * n - ((n00 + n01) * (n00 + n10)
                      + (n10 + n11) * (n01 + n11))))
           END AS kappa_micros
    FROM c
    """,
)
def q170_dedup_agreement(spark, sf_dir):
    """Cohen's kappa between two dedup methods on the same corpus
    (operators/dedup.py:dedup_agreement): exact content-hash verdicts
    vs MinHash-LSH candidate membership, over q16's synthesized dup
    population (doc_id%7<2 share one payload). Chance-corrected
    agreement is the statistic that decides whether the cheap method
    can replace the expensive one — raw overlap is inflated by the
    "both say unique" mass. Contingency + kappa are four sums and one
    guarded division (|numerator| with the sign re-applied, because
    kappa can be negative and Spark div truncates while DuckDB //
    floors); the flag tables are one hash-groupBy and one band
    equi-join — both corpus-scale-safe shapes already proven by
    q16/q18."""
    from ..operators.dedup import (
        char_shingles,
        dedup_agreement,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 < 2, F.lit("duplicate content block")
        ).otherwise(F.col("text")).alias("text"),
    )
    h = d.select("doc_id", F.md5("text").alias("_h"))
    grp = h.groupBy("_h").agg(F.count("*").alias("_n"))
    flags_a = h.join(grp, "_h").select(
        "doc_id",
        F.when(F.col("_n") > 1, F.lit(1)).otherwise(F.lit(0))
        .alias("flag"),
    )
    grams = char_shingles(d, text_col="text", k=12)
    cand = lsh_candidate_pairs(
        lsh_bands(minhash_signatures(grams, n_hashes=12),
                  rows_per_band=3)
    )
    part = (
        cand.select(F.col("a_id").alias("doc_id"))
        .unionByName(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
        .withColumn("_in", F.lit(1))
    )
    flags_b = d.select("doc_id").join(part, "doc_id", "left").select(
        "doc_id",
        F.coalesce("_in", F.lit(0)).alias("flag"),
    )
    return dedup_agreement(flags_a, flags_b)


@q(
    "q175_minhash_vs_exact",
    _MINHASH_CTES
    + """
    , cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.a_id, c.b_id,
             (CAST(sum(CASE WHEN x.mhv = y.mhv THEN 1 ELSE 0 END)
                   AS BIGINT) * 1000000) // 12 AS est_micros
      FROM cand c
      JOIN mh x ON x.doc_id = c.a_id
      JOIN mh y ON y.doc_id = c.b_id AND y.seed = x.seed
      GROUP BY c.a_id, c.b_id
    ),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n
      FROM sh GROUP BY doc_id
    ),
    inter AS (
      SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS ni
      FROM cand c
      JOIN sh ga ON ga.doc_id = c.a_id
      JOIN sh gb ON gb.doc_id = c.b_id AND gb.gram = ga.gram
      GROUP BY c.a_id, c.b_id
    )
    SELECT e.a_id, e.b_id, e.est_micros,
           coalesce((i.ni * 1000000)
                    // (sa.n + sb.n - i.ni), 0) AS exact_micros
    FROM est e
    JOIN sizes sa ON sa.doc_id = e.a_id
    JOIN sizes sb ON sb.doc_id = e.b_id
    LEFT JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
    """,
)
def q175_minhash_vs_exact(spark, sf_dir):
    """Sketch-quality audit (operators/dedup.py:minhash_jaccard_eval):
    MinHash-estimated vs exact shingle Jaccard for every LSH candidate
    pair — the calibration table for banding parameters (estimate ≫
    exact rows are LSH false-positive mass; near-threshold est ≪ exact
    rows are recall losses), measured BEFORE a corpus-scale dedup run.
    The estimate joins signature rows (candidate-set × 12 seeds); the
    exact side is the shared-shingle equi-join restricted to
    candidates — the same verifier-only discipline as q19. Never
    corpus²."""
    from ..operators.dedup import char_shingles, minhash_jaccard_eval

    t = _tokstr_df(spark, sf_dir)
    grams = char_shingles(t, text_col="tok_str", k=12)
    return minhash_jaccard_eval(grams, n_hashes=12, rows_per_band=3)


@q(
    "q177_cluster_size_histogram",
    """
    WITH keyed AS (
      SELECT CASE WHEN doc_id % 2 = 0
                  THEN 'c' || CAST(doc_id % 50 AS VARCHAR)
                  ELSE 'u' || CAST(doc_id AS VARCHAR) END AS ck
      FROM documents
    ),
    sizes AS (
      SELECT ck, CAST(count(*) AS BIGINT) AS sz
      FROM keyed GROUP BY ck
    ),
    b AS (
      SELECT CAST(length(printf('%b', sz)) - 1 AS INT) AS size_bin, sz
      FROM sizes
    )
    SELECT size_bin,
           CAST(1 AS BIGINT) << size_bin AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_excess_docs
    FROM b GROUP BY size_bin
    """,
)
def q177_cluster_size_histogram(spark, sf_dir):
    """Log2-binned dup-cluster size histogram (operators/dedup.py:
    cluster_size_histogram): where the duplicate MASS lives — a few
    giant clusters (cap-per-cluster policy) vs millions of pairs
    (pairwise LSH spend). Cluster keys synthesized deterministically
    (even doc_ids fold into 50 clusters, odd stay singletons) so both
    bins are populated at every SF. floor(log2) is
    length(bin(size))−1 — integer string ops, no float log; one
    cluster-count-sized partial agg + a ≤64-key rollup."""
    from ..operators.dedup import cluster_size_histogram

    d = _read(spark, sf_dir, "documents").select(
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("c"), (F.col("doc_id") % 50).cast("string")),
        ).otherwise(
            F.concat(F.lit("u"), F.col("doc_id").cast("string"))
        ).alias("ck")
    )
    return cluster_size_histogram(d, key_col="ck")


@q(
    "q183_dedup_shift",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 < 2 THEN 'duplicate content block'
                  ELSE text END AS text
      FROM documents
    ),
    t AS (SELECT doc_id, md5(text) AS ck,
                 CAST(length(text) AS BIGINT) AS n_chars
          FROM d),
    mx AS (SELECT ck, CAST(max(n_chars) AS BIGINT) AS mc,
                  CAST(count(*) AS BIGINT) AS sz
           FROM t GROUP BY ck),
    keep AS (
      SELECT t.ck, CAST(min(t.doc_id) AS BIGINT) AS keeper,
             CAST(min(mx.mc) AS BIGINT) AS n_chars
      FROM t JOIN mx ON t.ck = mx.ck AND t.n_chars = mx.mc
      GROUP BY t.ck
    ),
    b AS (
      SELECT 'before' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM t
      UNION ALL
      SELECT 'after', CAST(count(*) AS BIGINT),
             CAST(sum(n_chars) AS BIGINT)
      FROM keep
    )
    SELECT stage, n_docs, sum_chars,
           (sum_chars * 1000000) // n_docs AS mean_chars_micros
    FROM b
    """,
)
def q183_dedup_shift(spark, sf_dir):
    """Corpus-shift report around keep-best dedup (operators/dedup.py:
    keep_best): the before/after footprint — doc count, char mass,
    mean length — that says what retention DID to the corpus (dedup
    that silently halves mean document length is a training-mix change,
    not just a size change). Survivor = longest text per exact-hash
    cluster, lowest id on ties — keep_best's max-then-tiebreak plain
    aggregates (never max(struct)/window; see its docstring plan
    notes). Two group-sized aggregates + a 2-row union."""
    from ..operators.dedup import keep_best

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 < 2, F.lit("duplicate content block")
        ).otherwise(F.col("text")).alias("text"),
    )
    t = d.select(
        "doc_id", F.md5("text").alias("ck"),
        F.length("text").cast("long").alias("n_chars"),
    )
    kept = keep_best(t, cluster_col="ck", score_col="n_chars")
    before = t.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    ).select(F.lit("before").alias("stage"), "n_docs", "sum_chars")
    after = kept.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    ).select(F.lit("after").alias("stage"), "n_docs", "sum_chars")
    return before.unionByName(after).select(
        "stage", "n_docs", "sum_chars",
        F.expr("sum_chars * 1000000L div n_docs")
        .alias("mean_chars_micros"),
    )


@q(
    "q185_simhash_calibration",
    _SIMHASH_CTES
    + """
    , bands AS (
      SELECT doc_id, simhash, j AS band,
             (simhash // CAST(power(2, j * 8) AS BIGINT)) % 256
               AS band_val
      FROM simhashes CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT CAST(hamming AS INT) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM cand GROUP BY hamming
    """,
)
def q185_simhash_calibration(spark, sf_dir):
    """SimHash banding calibration (q175's sibling for the SimHash
    family): the FULL Hamming-distance histogram of banded candidates
    — no verify cut — so the mass beyond the dedup threshold is
    measured, not assumed (pairs at Hamming 20+ are pure
    band-coincidence cost; a fat far tail says widen the bands, a
    thin near tail says the pigeonhole guarantee is wasting joins).
    Same band equi-join as q21; the histogram is a ≤33-key rollup
    above the distinct candidate set."""
    from ..operators.dedup import simhash32, simhash_near_pairs

    t = _tokens_df(spark, sf_dir)
    tc = (
        t.select("doc_id", F.explode("tokens").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = simhash_near_pairs(simhash32(tc), max_hamming=32)
    return pairs.groupBy(
        F.col("hamming").cast("int").alias("hamming")
    ).agg(F.count("*").cast("bigint").alias("n_pairs"))


@q(
    "q194_cdc_chunks",
    """
    WITH d AS (
      SELECT doc_id, text AS t, CAST(length(text) AS BIGINT) AS len
      FROM documents WHERE length(text) > 0
    ),
    pos AS (
      SELECT doc_id, t, len,
             unnest(generate_series(2, CAST(len AS INTEGER) - 3)) AS p
      FROM d
    ),
    cuts AS (
      SELECT doc_id, p FROM pos
      WHERE ('0x' || substr(md5(substr(t, p, 4)), 1, 8))::BIGINT % 64 = 0
    ),
    starts AS (
      SELECT doc_id, 1 AS start FROM d
      UNION ALL
      SELECT doc_id, p AS start FROM cuts
    ),
    spans AS (
      SELECT doc_id, start,
             row_number() OVER (PARTITION BY doc_id ORDER BY start) - 1
               AS chunk_idx,
             lead(start) OVER (PARTITION BY doc_id ORDER BY start) AS nxt
      FROM starts
    )
    SELECT sp.doc_id,
           CAST(sp.chunk_idx AS BIGINT) AS chunk_idx,
           CAST(sp.start AS BIGINT) AS start,
           CAST(coalesce(sp.nxt - 1, d.len) - sp.start + 1 AS BIGINT)
             AS chunk_len,
           md5(substr(d.t, sp.start,
                      CAST(coalesce(sp.nxt - 1, d.len) - sp.start + 1
                           AS INTEGER))) AS chunk_md5
    FROM spans sp JOIN d ON sp.doc_id = d.doc_id
    """,
)
def q194_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (operators/chunking.py:cdc_chunks; LBFS,
    Muthitacharoen SOSP'01): chunk boundaries depend only on the local
    4-gram (md5 mod 64), so an edit shifts only the chunks it touches
    and chunk-hash dedup still matches everything downstream — the dedup
    granularity that survives page revisions, where whole-doc hashes
    (q16) lose the entire document. Cut scan = one Arrow-batched linear
    pass per doc (zero shuffle); chunk cut-out = JVM array codegen + one
    posexplode. The oracle replays the identical rule positionally —
    affordable at test SF only, which is exactly why the operator never
    uses the positional form."""
    from ..operators.chunking import cdc_chunks

    d = _read(spark, sf_dir, "documents")
    return cdc_chunks(d, gram=4, mod=64)


@q("q203_cdc_snapshot_novelty", """
    WITH snapa AS (SELECT doc_id, source, text AS t FROM documents),
    snapb AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 6 = 0 THEN 'UPDATE: ' || text
                  ELSE text END AS t
      FROM documents
    ),
    da AS (
      SELECT doc_id, source, t, CAST(length(t) AS BIGINT) AS len
      FROM snapa WHERE length(t) > 0
    ),
    posa AS (
      SELECT doc_id, t, len,
             unnest(generate_series(2, CAST(len AS INTEGER) - 3)) AS p
      FROM da
    ),
    cutsa AS (
      SELECT doc_id, p FROM posa
      WHERE ('0x' || substr(md5(substr(t, p, 4)), 1, 8))::BIGINT % 64 = 0
    ),
    startsa AS (
      SELECT doc_id, 1 AS start FROM da
      UNION ALL
      SELECT doc_id, p AS start FROM cutsa
    ),
    spansa AS (
      SELECT doc_id, start,
             lead(start) OVER (PARTITION BY doc_id ORDER BY start) AS nxt
      FROM startsa
    ),
    cha AS (
      SELECT sp.doc_id, d.source,
             CAST(coalesce(sp.nxt - 1, d.len) - sp.start + 1 AS BIGINT)
               AS chunk_len,
             md5(substr(d.t, sp.start,
                        CAST(coalesce(sp.nxt - 1, d.len) - sp.start + 1
                             AS INTEGER))) AS chunk_md5
      FROM spansa sp JOIN da d ON sp.doc_id = d.doc_id
    ),
    db AS (
      SELECT doc_id, source, t, CAST(length(t) AS BIGINT) AS len
      FROM snapb WHERE length(t) > 0
    ),
    posb AS (
      SELECT doc_id, t, len,
             unnest(generate_series(2, CAST(len AS INTEGER) - 3)) AS p
      FROM db
    ),
    cutsb AS (
      SELECT doc_id, p FROM posb
      WHERE ('0x' || substr(md5(substr(t, p, 4)), 1, 8))::BIGINT % 64 = 0
    ),
    startsb AS (
      SELECT doc_id, 1 AS start FROM db
      UNION ALL
      SELECT doc_id, p AS start FROM cutsb
    ),
    spansb AS (
      SELECT doc_id, start,
             lead(start) OVER (PARTITION BY doc_id ORDER BY start) AS nxt
      FROM startsb
    ),
    chb AS (
      SELECT sp.doc_id, d.source,
             CAST(coalesce(sp.nxt - 1, d.len) - sp.start + 1 AS BIGINT)
               AS chunk_len,
             md5(substr(d.t, sp.start,
                        CAST(coalesce(sp.nxt - 1, d.len) - sp.start + 1
                             AS INTEGER))) AS chunk_md5
      FROM spansb sp JOIN db d ON sp.doc_id = d.doc_id
    ),
    seen AS (SELECT DISTINCT chunk_md5 FROM cha),
    nov AS (
      SELECT b.source,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(b.chunk_len) AS BIGINT) AS total_bytes,
             CAST(sum(CASE WHEN s.chunk_md5 IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new_chunks,
             CAST(sum(CASE WHEN s.chunk_md5 IS NULL THEN b.chunk_len
                           ELSE 0 END) AS BIGINT) AS new_bytes
      FROM chb b LEFT JOIN seen s ON b.chunk_md5 = s.chunk_md5
      GROUP BY b.source
    )
    SELECT source, n_chunks, total_bytes, n_new_chunks, new_bytes,
           new_bytes * 1000000 // total_bytes AS new_bytes_micros
    FROM nov
    """)
def q203_cdc_snapshot_novelty(spark, sf_dir):
    """Chunk-level novelty between crawl snapshots (composes
    operators/chunking.py:cdc_chunks with the q82 snapshot-diff
    discipline): snapshot B re-crawls the corpus with every 6th page
    edited, and the report prices EXACTLY the bytes a chunk-store
    (content-addressed, CDC-boundary) would newly persist -- whole-doc
    hashing would re-store every edited page in full; CDC re-stores
    only the head chunks the edit touched, which is the entire point of
    q194's boundaries surviving edits. Plan: two Arrow cut scans (zero
    shuffle), one distinct on snapshot A's chunk hashes, one hash-key
    LEFT anti-style join, group-sized rollup. At 10^12 docs snapshot
    A's chunk index is the persisted table (the q106 incremental
    pattern); only B's chunks move."""
    from ..operators.chunking import cdc_chunks

    d = _read(spark, sf_dir, "documents")
    snap_a = d.select("doc_id", "source", F.col("text").alias("text"))
    snap_b = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.lit("UPDATE: "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    cha = cdc_chunks(snap_a, gram=4, mod=64)
    chb = cdc_chunks(snap_b, gram=4, mod=64)
    src = d.select("doc_id", "source")
    seen = cha.select("chunk_md5").distinct().select(
        F.col("chunk_md5").alias("_seen")
    )
    j = (
        chb.join(src, "doc_id")
        .join(seen, chb["chunk_md5"] == F.col("_seen"), "left")
    )
    agg = j.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.sum("chunk_len").alias("total_bytes"),
        F.sum(
            F.when(F.col("_seen").isNull(), 1).otherwise(0)
        ).alias("n_new_chunks"),
        F.sum(
            F.when(F.col("_seen").isNull(), F.col("chunk_len"))
            .otherwise(0)
        ).alias("new_bytes"),
    )
    return agg.select(
        "source",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("total_bytes").cast("long").alias("total_bytes"),
        F.col("n_new_chunks").cast("long").alias("n_new_chunks"),
        F.col("new_bytes").cast("long").alias("new_bytes"),
        F.expr("new_bytes * 1000000L div total_bytes").alias(
            "new_bytes_micros"
        ),
    )


# --- wave: KMV pairwise Jaccard / shard-mix KL / banded sentence alignment /
#           categorical NMI (q227-q230) --------------------------------------


@q(
    "q227_kmv_jaccard",
    """
    WITH tok AS (
      SELECT source, doc_id,
             unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS w
      FROM documents
    ),
    hsh AS (
      SELECT DISTINCT source AS grp,
             ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
      FROM tok
    ),
    sk AS (
      SELECT grp, h FROM (
        SELECT grp, h, row_number() OVER (
          PARTITION BY grp ORDER BY h
        ) AS r FROM hsh
      ) WHERE r <= 16
    ),
    g AS (SELECT DISTINCT grp FROM sk),
    pairs AS (
      SELECT a.grp AS ga, b.grp AS gb
      FROM g a JOIN g b ON a.grp < b.grp
    ),
    u AS (
      SELECT DISTINCT ga, gb, h FROM (
        SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.grp = p.ga
        UNION ALL
        SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.grp = p.gb
      )
    ),
    uk AS (
      SELECT ga, gb, h FROM (
        SELECT ga, gb, h, row_number() OVER (
          PARTITION BY ga, gb ORDER BY h
        ) AS r FROM u
      ) WHERE r <= 16
    ),
    tot AS (
      SELECT ga, gb, CAST(count(*) AS BIGINT) AS k_used
      FROM uk GROUP BY ga, gb
    ),
    inter AS (
      SELECT uk.ga, uk.gb, CAST(count(*) AS BIGINT) AS inter_k
      FROM uk
      JOIN sk sa ON sa.grp = uk.ga AND sa.h = uk.h
      JOIN sk sb ON sb.grp = uk.gb AND sb.h = uk.h
      GROUP BY uk.ga, uk.gb
    )
    SELECT t.ga AS grp_a, t.gb AS grp_b, t.k_used,
           coalesce(i.inter_k, 0) AS inter_k,
           coalesce(i.inter_k, 0) * 1000000 // t.k_used
             AS jaccard_micros
    FROM tot t LEFT JOIN inter i ON t.ga = i.ga AND t.gb = i.gb
    """,
)
def q227_kmv_jaccard(spark, sf_dir):
    """Pairwise source-vocabulary Jaccard from bottom-k KMV sketches
    (operators/sketches.py bottomk_jaccard -- Beyer SIGMOD'07 S5 /
    Broder min-wise): |union-bottom-k ∩ skA ∩ skB| / k_used, computed
    ONLY from q220's sketches -- the raw corpus is never re-read, which
    is the whole point at 10^5 shards: the overlap matrix of every
    shard pair moves k·groups sketch rows. Exact integer arithmetic
    end-to-end (hash randomness, not float math); group-pair expansion
    is sketch-sized; union bottom-k is a PAIR-partitioned window."""
    from ..operators.sketches import bottomk_jaccard, bottomk_sketch

    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("w"),
    )
    return bottomk_jaccard(bottomk_sketch(toks, "source", "w", k=16), k=16)


@q(
    "q238_dedup_transitivity",
    """
    WITH p0 AS (
      SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
      WHERE doc_id % 4 IN (0, 1)
        AND doc_id + 1 < (SELECT count(*) FROM documents)
      UNION ALL
      SELECT doc_id, doc_id + 2 FROM documents
      WHERE doc_id % 8 = 0
        AND doc_id + 2 < (SELECT count(*) FROM documents)
    ),
    canon AS (
      SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
      FROM p0
    ),
    sym AS (
      SELECT u, v FROM canon UNION ALL SELECT v, u FROM canon
    ),
    wedges AS (
      SELECT e1.u AS x, e2.v AS z
      FROM sym e1 JOIN sym e2 ON e1.v = e2.u
      WHERE e1.u < e2.v
    ),
    closed AS (
      SELECT w.x, w.z FROM wedges w
      WHERE EXISTS (SELECT 1 FROM canon c
                    WHERE c.u = w.x AND c.v = w.z)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM canon) AS n_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
           (SELECT CAST(count(*) AS BIGINT) FROM closed) AS n_closed,
           (SELECT CAST(count(*) AS BIGINT) FROM wedges)
             - (SELECT CAST(count(*) AS BIGINT) FROM closed)
             AS n_open,
           CASE WHEN (SELECT count(*) FROM wedges) > 0
           THEN (SELECT CAST(count(*) AS BIGINT) FROM closed)
                * 1000000 // (SELECT count(*) FROM wedges)
           END AS closure_micros
    """,
)
def q238_dedup_transitivity(spark, sf_dir):
    """Transitivity audit of a near-duplicate pair relation
    (operators/dedup.py pair_transitivity_audit): connected-components
    dedup (q50) merges x and z whenever (x,y),(y,z) are pairs --
    closure_micros says how often the detector itself backs that leap
    (low closure = threshold chaining, the known LSH failure mode;
    Spacerini/SlimPajama-style audits report exactly this). Wedge
    enumeration = ONE middle-node equi-join of the symmetrized pair
    list (q130 triangle shape, skew bounded by max degree), closure =
    left-semi against canonical pairs. Fixture: chain pairs (d,d+1)
    for d%4 in {0,1} + closing pairs (d,d+2) at d%8=0 -> closure 50%
    by construction."""
    from ..operators.dedup import pair_transitivity_audit

    d = _read(spark, sf_dir, "documents")
    n = d.count()
    chains = d.filter(
        (F.col("doc_id") % 4 < 2) & (F.col("doc_id") + 1 < n)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
    )
    closers = d.filter(
        (F.col("doc_id") % 8 == 0) & (F.col("doc_id") + 2 < n)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 2).alias("id_b"),
    )
    return pair_transitivity_audit(chains.unionByName(closers))


@q(
    "q252_dedup_threshold_sweep",
    """
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '),
                                       w -> length(w) > 0)) AS toks
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
               * 1000000
               // len(list_distinct(list_concat(a.toks, b.toks)))
               AS jacc_micros
      FROM t a JOIN t b ON b.doc_id = a.doc_id + 250
      WHERE a.doc_id < 250
    ),
    th AS (SELECT unnest([500000, 600000, 700000, 800000, 900000])
             AS threshold_micros)
    SELECT CAST(th.threshold_micros AS BIGINT) AS threshold_micros,
           CAST(count(p.id_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT p.id_a)
                + count(DISTINCT p.id_b) AS BIGINT) AS n_docs
    FROM th LEFT JOIN pairs p
      ON p.jacc_micros >= th.threshold_micros
    GROUP BY th.threshold_micros
    """,
)
def q252_dedup_threshold_sweep(spark, sf_dir):
    """Dedup threshold ablation (operators/dedup.py
    jaccard_threshold_sweep): pairs fired and documents touched at
    each candidate Jaccard threshold -- the yield curve read before
    pinning a pipeline threshold (a cliff between thresholds = a
    template family at that similarity; RefinedWeb/SlimPajama
    ablations tabulate this). Runs over CANDIDATE pairs (bounded by
    banding, never the corpus); the oracle's distinct-doc count
    exploits the fixture's disjoint endpoint ranges (id_a < 250 <=
    id_b) so endpoint distincts add. Fixture pairs: doc d with
    d + 250, token-set Jaccard."""
    from ..operators.dedup import jaccard_threshold_sweep

    toks = F.array_distinct(
        F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    )
    d = _read(spark, sf_dir, "documents").select("doc_id", toks.alias("toks"))
    a = d.filter(F.col("doc_id") < 250).select(
        F.col("doc_id").alias("id_a"), F.col("toks").alias("ta")
    )
    b = d.select(
        (F.col("doc_id") - 250).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("toks").alias("tb"),
    )
    pairs = (
        a.join(b, "id_a")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb"))
            .cast("bigint")
            .alias("_i"),
            F.size(F.array_union("ta", "tb")).cast("bigint").alias("_u"),
        )
        .select(
            "id_a",
            "id_b",
            F.expr("_i * 1000000L div _u").alias("jacc_micros"),
        )
    )
    return jaccard_threshold_sweep(pairs)


@q(
    "q277_inline_image_dhash",
    """
    SELECT doc_id, CAST(0 AS INT) AS img_idx, 'image/png' AS mime,
           CASE WHEN doc_id % 2 = 0 THEN '0808080808080808'
                ELSE '0000000000000000' END AS dhash64
    FROM documents
    """,
)
def q277_inline_image_dhash(spark, sf_dir):
    """Inline data:-URI image fingerprinting (operators/multimodal.py
    inline_image_dhash): the extraction→decode→fingerprint seam wired
    end to end — image_sources finds the data: URI, unbase64 decodes
    it IN CODEGEN (bytes never round-trip through Python strings), and
    the real PNG decoder + dHash (q105's path) fingerprints it. Even
    docs embed a 16x16 vertical-stripe PNG (dhash 0808...), odd docs a
    half-split PNG (dhash 0000...) — both hashes are authoring-time
    constants of REAL decodes, and a trailing url-src img proves the
    data: filter. Template-stamped inline imagery (tracking pixels,
    spacer GIFs) dedups through q107's banding without fetching a
    single asset."""
    from ..operators.multimodal import inline_image_dhash

    d = _read(spark, sf_dir, "documents")
    b64 = F.when(F.col("doc_id") % 2 == 0, F.lit(_B64_STRIPES)) \
        .otherwise(F.lit(_B64_HALF))
    html = F.concat(
        F.lit('<html><body><img src="data:image/png;base64,'), b64,
        F.lit('"><img src="https://cdn.example.org/u.png">'
              "</body></html>"),
    )
    return inline_image_dhash(d.select("doc_id", html.alias("html")))


@q(
    "q324_sentence_dedup",
    """
    SELECT doc_id,
      CASE WHEN doc_id = 0
        THEN 'Common intro here. Body 0 text.'
        ELSE 'Body ' || CAST(doc_id AS VARCHAR) || ' text.' END
        AS kept_text,
      2 AS n_sentences,
      CASE WHEN doc_id = 0 THEN 2 ELSE 1 END AS n_kept
    FROM documents
    """,
)
def q324_sentence_dedup(spark, sf_dir):
    """Corpus-wide sentence-level dedup, keep-first (operators/
    dedup.py dedup_sentences): every distinct sentence survives only
    in its canonical document (global min (doc, idx) — an
    aggregation, never a corpus sort), documents re-assembled in
    original order. The C4 discipline at linguistic granularity,
    composing the q310 segmentation with the exact-dedup canonical-
    pick machinery. Fixture: every doc opens with one shared intro
    sentence that only doc 0 may keep; the oracle states each
    reassembled text closed-form."""
    from ..operators.dedup import dedup_sentences

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("Common intro here. Body "), sid, F.lit(" text.")
    )
    return dedup_sentences(d.select("doc_id", text.alias("text")))


@q(
    "q353_pair_diff_spans",
    """
    WITH d AS (SELECT doc_id, doc_id % 3 AS m,
                      CAST(length(CAST(doc_id AS VARCHAR)) AS INT)
                        AS idlen
               FROM documents)
    SELECT doc_id AS a_id, doc_id AS b_id,
      CAST(4 + idlen AS INT) AS lcp,
      CASE m WHEN 0 THEN 4 ELSE 0 END AS lcs,
      CASE m WHEN 0 THEN 4 ELSE 0 END AS mid_a,
      CASE m WHEN 0 THEN 2 WHEN 2 THEN 5 ELSE 0 END AS mid_b,
      CASE m WHEN 1 THEN 1 ELSE 0 END AS same
    FROM d
    """,
)
def q353_pair_diff_spans(spark, sf_dir):
    """Near-dup PAIR EXPLANATION (operators/dedup.py
    pair_diff_spans): longest common prefix/suffix and the differing
    middles per candidate pair — near-dup detectors (q18/q21/q140)
    say THAT two documents match, this says WHERE they differ (the
    timestamp, the byline, the ad block), which is what threshold
    review and template-hole mining consume. Fixture strata: changed
    middle (lcp/lcs/mids all nonzero), identical pair (suffix capped
    to 0 after the full-prefix match — the documented
    lcp+lcs ≤ shorter rule), and pure extension (mid_a 0, mid_b 5).
    Codegen zip_with + array_position on candidate pairs only."""
    from ..operators.dedup import pair_diff_spans

    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 3
    ta = (
        F.when(m == 0, F.concat(F.lit("AAAA"), sid, F.lit("MMMMZZZZ")))
        .when(m == 1, F.concat(F.lit("SAME"), sid))
        .otherwise(F.concat(F.lit("PPPP"), sid))
    )
    tb = (
        F.when(m == 0, F.concat(F.lit("AAAA"), sid, F.lit("QQZZZZ")))
        .when(m == 1, F.concat(F.lit("SAME"), sid))
        .otherwise(F.concat(F.lit("PPPP"), sid, F.lit("EXTRA")))
    )
    docs_a = d.select("doc_id", ta.alias("text"))
    docs_b = d.select("doc_id", tb.alias("text"))
    # the two sides enter one docs relation under even/odd ids so the
    # operator's single-table contract applies unchanged
    union_docs = docs_a.select(
        (F.col("doc_id") * 2).alias("doc_id"), "text"
    ).unionByName(
        docs_b.select((F.col("doc_id") * 2 + 1).alias("doc_id"), "text")
    )
    pair_ids = d.select(
        (F.col("doc_id") * 2).alias("a_id"),
        (F.col("doc_id") * 2 + 1).alias("b_id"),
    )
    out = pair_diff_spans(pair_ids, union_docs)
    return out.select(
        F.expr("a_id div 2").alias("a_id"),
        F.expr("b_id div 2").alias("b_id"),
        "lcp", "lcs", "mid_a", "mid_b", "same",
    )


# --- wave: canonical dedup-key capstone (q354) --------------------------------


@q(
    "q354_canonical_dedup_key",
    """
    WITH k AS (
      SELECT doc_id,
             'the café extraction report ' || CAST(doc_id // 3 AS VARCHAR)
               AS dedup_key
      FROM documents
    )
    SELECT doc_id, dedup_key, md5(dedup_key) AS dedup_md5,
           (SELECT count(DISTINCT dedup_key) FROM k)
             AS n_distinct_keys
    FROM k
    """,
)
def q354_canonical_dedup_key(spark, sf_dir):
    """Canonical dedup-key capstone (functions/normalize.py
    canonical_dedup_key — dehyphenate ∘ control-strip/whitespace ∘
    NFC ∘ lowercase): three byte-DIFFERENT renderings of one
    document — hyphen-wrapped with a BOM, decomposed-accent with
    doubled spaces, case-mapped clean — collapse to ONE key per
    doc-group, proven by the oracle stating the single canonical
    string (precomposed é, single spaces) and the corpus-wide
    distinct-key count. NFKC deliberately excluded (lossy; q337 is
    tokenizer-side). The md5 column is the q16 groupBy key at
    scale."""
    from ..functions.normalize import canonical_dedup_key

    d = _read(spark, sf_dir, "documents")
    g = F.expr("doc_id div 3").cast("string")
    m = F.col("doc_id") % 3
    text = (
        F.when(m == 0, F.concat(
            F.lit("﻿the café extrac-\ntion report "), g))
        .when(m == 1, F.concat(
            # decomposed e+COMBINING ACUTE, written explicitly
            F.lit("The  cafe\u0301  extraction report "), g))
        .otherwise(F.concat(
            F.lit("THE CAFÉ EXTRACTION REPORT "), g))
    )
    keyed = canonical_dedup_key(d.select("doc_id", text.alias("text")))
    n_distinct = keyed.agg(
        F.countDistinct("dedup_key").cast("bigint")
        .alias("n_distinct_keys")
    )
    return keyed.select("doc_id", "dedup_key", "dedup_md5").crossJoin(
        F.broadcast(n_distinct)
    )


# --- wave r5: banded-generator + exact-verify composition (q357) --------------


@q(
    "q357_banded_jaccard",
    _MINHASH_CTES
    + """
    , cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ), s AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
    , i AS (
      SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS n_inter
      FROM cand c
      JOIN sh ga ON ga.doc_id = c.a_id
      JOIN sh gb ON gb.doc_id = c.b_id AND gb.gram = ga.gram
      GROUP BY 1, 2
    )
    SELECT i.a_id, i.b_id, n_inter,
           CAST(sa.n + sb.n - n_inter AS BIGINT) AS n_union,
           CAST((n_inter * 1000000) // (sa.n + sb.n - n_inter)
                AS BIGINT) AS jaccard_micros
    FROM i JOIN s sa ON i.a_id = sa.doc_id
           JOIN s sb ON i.b_id = sb.doc_id
    WHERE n_inter * 1000000 >= 200000 * (sa.n + sb.n - n_inter)
    """,
)
def q357_banded_jaccard(spark, sf_dir):
    """Corpus-scale near-dup composition (operators/dedup.py
    banded_jaccard_pairs): MinHash-LSH band buckets generate candidates,
    exact BIGINT Jaccard verifies ONLY those pairs — the production
    cutover BENCH_sf1.md demonstrates for q129's exact All-Pairs join
    (linear wall at 10x where the exact join times out, 100% recall of
    its output on every size it completes). Same 12-hash / 4x3-band
    chain as q17/q18, threshold 0.2 to exercise verification on this
    corpus; the oracle replays generator AND verifier closed-form."""
    from ..operators.dedup import banded_jaccard_pairs, char_shingles

    t = _tokstr_df(spark, sf_dir)
    sh = char_shingles(t, text_col="tok_str", k=12)
    return banded_jaccard_pairs(sh, threshold_micros=200_000)


@q(
    "q358_survivor_weights",
    """
    SELECT doc_id, multiplicity,
           CAST(1000000 // multiplicity AS BIGINT) AS weight_micros
    FROM (
      SELECT doc_id - doc_id % 4 AS doc_id,
             CAST(count(*) AS BIGINT) AS multiplicity
      FROM documents GROUP BY doc_id - doc_id % 4
    )
    """,
)
def q358_survivor_weights(spark, sf_dir):
    """Dedup survivor LOSS-WEIGHTING (operators/dedup.py
    survivor_weights — the SlimPajama-style alternative to hard
    removal): one row per cluster representative with multiplicity and
    inverse-count weight_micros, so training keeps one copy and scales
    its loss instead of overweighting duplicated boilerplate. Clusters
    come from the q50 connected-components machinery over the same
    closed-form 4-chain edge list, so the oracle states multiplicities
    directly."""
    from ..operators.dedup import dedup_clusters, survivor_weights

    d = _read(spark, sf_dir, "documents")
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"))
    pairs = (
        d.filter(F.col("doc_id") % 4 != 3)
        .join(nxt, "doc_id", "left_semi")
        .select(
            F.col("doc_id").alias("a_id"),
            (F.col("doc_id") + 1).alias("b_id"),
        )
    )
    return survivor_weights(dedup_clusters(pairs, d))
