"""Driver-contract queries and their DuckDB oracle SQL.

Each ``QUERIES[name]`` is ``(spark, sf_dir) -> DataFrame``; ``ORACLE[name]``
is ANSI SQL DuckDB runs over the same parquet tables (views: region nation
customer supplier part orders lineitem events documents embeddings). Column
names/aliases match exactly; all floating aggregates are rounded after
deterministic (decimal or order-identical) computation so the driver's
order-insensitive value-hash is stable across engines.

The extraction queries (q01/q02/q08/q09) synthesize an HTML page per
``documents`` row *inside the query* with pure string concatenation — the
identical construction is expressible in SQL, so DuckDB can state the
expected extractor output in closed form. This makes the pandas-UDF
extraction path itself driver-verifiable, not just pytest-verifiable.
"""

from __future__ import annotations

from datetime import timezone as _tz

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

_utc = _tz.utc

from ..functions.tokenize import with_tokens
from ..operators import tf as tfops
from ..operators.extract import extract_pages

# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → Common-Crawl-style docs table with deterministic HTML.

    Page layout (keep in sync with the oracle fragments below):
    title "Doc {id}", meta description "{source} document", header+nav
    (boilerplate, stripped), h1 "Heading {id}", body text, internal link
    "/about/{id}" (anchor text "about"), external link
    "https://ext{id%5}.example.org/page" (anchor text "ext"), an image,
    a footer.
    """
    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"), sid
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), sid,
        F.lit('</title><meta name="description" content="'),
        F.col("source"), F.lit(' document"></head><body>'),
        F.lit("<header>site header</header>"),
        F.lit('<nav><a href="https://nav.example.net/x">navlink</a></nav>'),
        F.lit("<h1>Heading "), sid, F.lit("</h1><p>"),
        F.col("text"), F.lit("</p>"),
        F.lit('<a href="/about/'), sid, F.lit('">about</a>'),
        F.lit('<a href="https://ext'), (F.col("doc_id") % 5).cast("string"),
        F.lit('.example.org/page">ext</a>'),
        F.lit('<img src="/img/'), sid, F.lit('.png" alt="img '), sid, F.lit('">'),
        F.lit("<footer>footer</footer></body></html>"),
    )
    return d.select(
        F.col("doc_id"),
        url.alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("").alias("text"),
        F.col("lang"),
    )


# Oracle fragment: the tokenizer over documents(text, lang), compat stopwords
# (reference hermetic fallback sets — see functions/stopwords.py).
_TOKENS_CTE = """
WITH toks AS (
  SELECT doc_id, source, lang,
         unnest(string_split(lower(trim(regexp_replace(text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' ')) AS word
  FROM documents
), words AS (
  SELECT doc_id, source, lang, word FROM toks
  WHERE length(word) >= 2
    AND NOT (lang = 'en' AND word IN ('the','a','and','of','is','this'))
    AND NOT (lang = 'es' AND word IN ('y','de','la','que'))
    AND NOT (lang IN ('pt','pt-br') AND word IN ('e','de','que','o'))
)
"""

# Oracle fragment: expected extractor output for the synthesized page.
# Visible text node order: title, h1, <p> body, "about", "ext"; header/nav/
# footer are decomposed; whitespace collapsed and trimmed.
_EXPECTED_TEXT = (
    "trim(regexp_replace('Doc ' || doc_id || ' Heading ' || doc_id || ' ' "
    "|| text || ' about ext', '\\s+', ' ', 'g'))"
)


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents_as_pages(spark, sf_dir)
    return extract_pages(docs)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

QUERIES = {}
ORACLE = {}


def q(name: str, oracle: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return reg


# --- tokenization / TF over documents.text (SURVEY §2.3 R3-R7) -------------


def _tokens_df(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return with_tokens(d).withColumnRenamed("doc_id", "doc_id")


# --- training-data pipeline: dedup / similarity / textstats / multimodal ----
# (beyond-reference capability per task brief; SURVEY.md §2.4 extensions)

# DuckDB fragment: ordered token string per doc (same tokens, same order as
# the engine's tokenizer — list ops preserve order).
_TOKSTR_CTE = """
WITH base AS (
  SELECT doc_id, source, lang,
    array_to_string(
      list_filter(
        string_split(lower(trim(regexp_replace(text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
        w -> length(w) >= 2
             AND NOT (lang = 'en' AND w IN ('the','a','and','of','is','this'))
             AND NOT (lang = 'es' AND w IN ('y','de','la','que'))
             AND NOT (lang IN ('pt','pt-br') AND w IN ('e','de','que','o'))
      ), ' ') AS tok_str
  FROM documents
)
"""

_MINHASH_CTES = _TOKSTR_CTE + """
, sh AS (
  SELECT DISTINCT doc_id, substr(tok_str, i, 12) AS gram
  FROM (
    SELECT doc_id, tok_str,
           unnest(range(1, greatest(length(tok_str) - 11, 1) + 1)) AS i
    FROM base WHERE length(tok_str) > 0
  )
), hsh AS (
  -- Kirsch–Mitzenmacher double hashing: one md5 per shingle, two 32-bit
  -- halves, h_s = (a + s·b) mod 2^32 (matches operators/dedup.py)
  SELECT doc_id,
         ('0x' || substr(md5(gram), 1, 8))::BIGINT AS a,
         ('0x' || substr(md5(gram), 9, 8))::BIGINT AS b
  FROM sh
), mh AS (
  SELECT doc_id, seed, min((a + seed * b) % 4294967296) AS mhv
  FROM hsh CROSS JOIN (SELECT unnest(range(0, 12)) AS seed)
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(seed // 3 AS INT) AS band,
         string_agg(lower(lpad(hex(mhv), 8, '0')), '' ORDER BY seed) AS band_key
  FROM mh GROUP BY doc_id, CAST(seed // 3 AS INT)
)
"""


def _tokstr_df(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return with_tokens(d).select(
        "doc_id", "source", "lang",
        F.concat_ws(" ", "tokens").alias("tok_str"),
    )


_SIMHASH_CTES = _TOKENS_CTE + """
, tc AS (SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY doc_id, word)
, hx AS (SELECT doc_id, cnt, substr(md5(word), 1, 8) AS h8 FROM tc)
, bits AS (
  SELECT doc_id, j,
         sum(cnt * (2 * (((strpos('0123456789abcdef', substr(h8, CAST(j // 4 AS INT) + 1, 1)) - 1)
                          // CAST(power(2, 3 - j % 4) AS INT)) % 2) - 1)) AS s
  FROM hx CROSS JOIN (SELECT unnest(range(0, 32)) AS j)
  GROUP BY doc_id, j
), simhashes AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN power(2, j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
"""


# --- report sinks (SURVEY §2.1 S7-S14) — byte-layout parity, driver-checked -

def documents_as_simple_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal closed-form page per documents row: the full report layout
    (top-50 incl. Counter tie order, previews, truncation markers) is
    SQL-expressible, so DuckDB can state the EXACT report bytes."""
    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"), sid
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), sid,
        F.lit("</title></head><body><h1>Heading "), sid,
        F.lit('</h1><p>alpha alpha beta gamma</p>'),
        F.lit('<a href="https://ext.example.org/p">ext</a>'),
        F.lit('<img src="/i.png" alt="pic"></body></html>'),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )


_SIMPLE_HTML_SQL = (
    "'<html><head><title>Doc ' || doc_id || '</title></head><body>"
    "<h1>Heading ' || doc_id || '</h1><p>alpha alpha beta gamma</p>"
    '<a href="https://ext.example.org/p">ext</a>'
    "<img src=\"/i.png\" alt=\"pic\"></body></html>'"
)
_SIMPLE_TEXT_SQL = (
    "'Doc ' || doc_id || ' Heading ' || doc_id || ' alpha alpha beta gamma ext'"
)


def _sql_quoted_stoplist(lang: str, profile: str = "nltk") -> str:
    """SQL-quoted stopword IN-list from the SAME vendored stopword data
    the engine broadcasts — the oracle states the full-list semantics, not
    a copy of engine code."""
    from ..functions.stopwords import get_stopwords

    return ",".join(
        "'" + w.replace("'", "''") + "'"
        for w in sorted(get_stopwords(lang, profile))
    )


def _sql_stop_clause(cli_lang: str, profile: str = "nltk") -> str:
    """``AND NOT (lang = '<l>' AND word IN (...))`` filter for the oracle."""
    quoted = _sql_quoted_stoplist(cli_lang, profile)
    if not quoted:
        return ""
    return f"AND NOT (lang = '{cli_lang}' AND word IN ({quoted}))\n"


def documents_as_seo_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → pages whose <head> carries the full SEO extension tag
    set (canonical, og:*, robots, twitter:*, hreflang alternates) with
    closed-form values, so a SQL oracle can state every extracted field.
    Separate from :func:`documents_as_pages` to leave the q01/q02 golden
    byte-contracts untouched."""
    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"), sid
    )
    robots_val = F.when(
        F.col("doc_id") % 2 == 0, F.lit("index,follow")
    ).otherwise(F.lit("noindex"))
    html = F.concat(
        F.lit("<html><head><title>Doc "), sid, F.lit("</title>"),
        F.lit('<link rel="canonical" href="'), url, F.lit('">'),
        F.lit('<meta property="og:title" content="OG Doc '), sid,
        F.lit('"><meta property="og:description" content="'),
        F.col("source"), F.lit(' og">'),
        F.lit('<meta property="og:image" content="https://img.example.com/og/'),
        sid, F.lit('.png">'),
        F.lit('<meta name="robots" content="'), robots_val, F.lit('">'),
        F.lit('<meta name="twitter:title" content="TW Doc '), sid,
        F.lit('">'),
        F.lit('<link rel="alternate" hreflang="en" href="'), url,
        F.lit('?hl=en">'),
        F.lit('<link rel="alternate" hreflang="pt-br" href="'), url,
        F.lit('?hl=pt">'),
        # decoys the extractor must ignore: rss alternate (no hreflang),
        # second canonical (first wins), second og:title (first wins)
        F.lit('<link rel="alternate" type="application/rss+xml" href="/f">'),
        F.lit('<link rel="canonical" href="https://wrong.example.com/">'),
        F.lit('<meta property="og:title" content="IGNORED">'),
        F.lit("</head><body><p>"), F.col("text"), F.lit("</p></body></html>"),
    )
    return d.select(
        F.col("doc_id"),
        url.alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("").alias("text"),
        F.col("lang"),
    )


# --- LLM-pipeline extensions: PII redaction + DSIR selection ----------------

from ..operators.redact import (  # noqa: E402 — grouped with their queries
    EMAIL_RE,
    EMAIL_TOKEN,
    IPV4_RE,
    IPV4_TOKEN,
    PHONE_RE,
    PHONE_TOKEN,
    redact_pii,
)


# q73's oracle, as a constant so q84's CCNet bucket oracle can reuse it
# as a subquery without drift.
_Q73_SQL = """
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t,
             list_filter(
               string_split(lower(trim(regexp_replace(
                 text, '[^A-Za-zÀ-ÿ]+', ' ', 'g'))), ' '),
               w -> length(w) > 0) AS l
      FROM documents
    ),
    big AS (
      SELECT doc_id, is_t, l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT doc_id, is_t, l, unnest(range(1, len(l))) AS i
            FROM toks)
    ),
    uni AS (SELECT doc_id, is_t, unnest(l) AS w FROM toks),
    c1 AS (
      SELECT w AS w1, CAST(count(*) AS BIGINT) AS c1
      FROM uni WHERE is_t GROUP BY w
    ),
    c12 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM big WHERE is_t GROUP BY w1, w2
    ),
    v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vsz
          FROM uni WHERE is_t)
    SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CAST(floor(1e6 * (ln(coalesce(c12, 0) + 1)
                                      - ln(coalesce(c1, 0) + vsz)))
                         AS BIGINT)) AS BIGINT) AS lm_logprob_micros
    FROM big b
    LEFT JOIN c12 USING (w1, w2)
    LEFT JOIN c1 USING (w1)
    CROSS JOIN v
    GROUP BY b.doc_id
    """


_Q76_TOKENS = (
    "list_filter(string_split(trim(regexp_replace("
    "text, '[^A-Za-zÀ-ÿ]+', ' ', 'g')), ' '), w -> length(w) > 0)"
)


# q91's oracle states the SAME fixed-literal mojibake arithmetic the
# operator runs, generated from the one shared constant so the two can
# never drift. Injection: every 7th doc gets a double-encoding signature,
# every 13th a U+FFFD — identically on both sides.
from ..operators.textstats import MOJIBAKE_SEQS as _MOJI  # noqa: E402

_MOJI_SUM_SQL = " + ".join(
    f"CAST((length(t) - length(replace(t, '{s}', ''))) // {len(s)} AS INT)"
    for s in _MOJI
)


# words chosen to dodge every stopword profile list so the injected
# payload tokenizes identically for every lang — cross-run duplicates
# then match regardless of the doc's language tag
_Q106_PAYLOAD = (
    "shared corpus payload repeated across runs with plenty distinct "
    "words to shingle hash deterministically"
)

# the full MinHash band chain from _MINHASH_CTES, fed by an injected
# corpus: docs with doc_id % 10 = 0 share _Q106_PAYLOAD, so run 2
# (doc_id % 3 = 0) provably contains cross-run duplicates of run 1.
# Substitution order matters: retarget base's FROM first (single
# occurrence), then prepend the inj CTE.
_Q106_CTES = _MINHASH_CTES.replace("FROM documents", "FROM inj").replace(
    "WITH base AS (",
    "WITH inj AS (\n"
    "  SELECT doc_id, source, lang,\n"
    f"         CASE WHEN doc_id % 10 = 0 THEN '{_Q106_PAYLOAD}'\n"
    "              ELSE text END AS text\n"
    "  FROM documents\n"
    "), base AS (",
)


def _kmeans_oracle_sql(k: int = 4, iters: int = 2,
                       src: str = "embeddings",
                       prefix: str = "") -> str:
    """Closed-form DuckDB SQL for kmeans_assign: md5-rank seeds, then
    ``iters`` Lloyd rounds (argmin assignment + truncating-integer-mean
    update) in exact integer-micros arithmetic, then the final
    assignment. Generated because the rounds are mechanical CTE
    repetitions; the emitted SQL is static per (k, iters). ``src`` lets
    callers train over a derived (vec_id, embedding) relation — q115's
    SemDeDup oracle injects the corpus-plus-synthesized-duplicates
    union here. ``prefix`` renames every CTE so several independent
    chains can share one WITH clause — q121's product quantizer trains
    one chain per subspace."""
    p = prefix

    def assign(src_cents, tag):
        return f"""
    {p}a{tag}p AS (
      SELECT b.vec_id, b.v, s.cid,
             CAST(list_sum(list_transform(range(1, len(b.v) + 1),
                  i -> (b.v[i] - s.c[i]) * (b.v[i] - s.c[i])))
                  AS BIGINT) AS d2
      FROM {p}base b CROSS JOIN {src_cents} s
    ),
    {p}a{tag} AS (
      SELECT vec_id, v, cid, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cid) AS rn
        FROM {p}a{tag}p) WHERE rn = 1
    )"""

    def update(tag):
        return f"""
    {p}c{tag} AS (
      SELECT cid, list(sm ORDER BY pos) AS c FROM (
        SELECT cid, pos,
               CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS sm
        FROM (SELECT cid, i AS pos, v[i] AS x
              FROM (SELECT cid, v, unnest(range(1, len(v) + 1)) AS i
                    FROM {p}a{tag}))
        GROUP BY cid, pos) GROUP BY cid
    )"""

    ctes = [f"""
    {p}base AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000)
                                      AS BIGINT)) AS v
      FROM {src}
    ),
    {p}c0 AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS cid, v AS c
      FROM {p}base
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
    )"""]
    cents = f"{p}c0"
    for r in range(1, iters + 1):
        ctes.append(assign(cents, str(r)))
        ctes.append(update(str(r)))
        cents = f"{p}c{r}"
    ctes.append(assign(cents, "f"))
    return "WITH " + ",".join(ctes), cents


def _kmeans_assign_oracle(k: int = 4, iters: int = 2) -> str:
    ctes, _ = _kmeans_oracle_sql(k=k, iters=iters)
    return ctes + "\n    SELECT vec_id, cid, d2 AS dist2 FROM af"


def _ivf_trained_oracle(k_cells: int = 4, iters: int = 2,
                        query_ids=(1, 2, 3, 5, 8), n_probe: int = 2,
                        topk: int = 5) -> str:
    """Trained-IVF search replayed closed-form on top of the k-means
    CTEs: probe = n_probe nearest trained cells per query, candidates =
    cell equi-join against the final assignment, rank by exact integer
    squared-L2 (ties on neighbor_id)."""
    ctes, cents = _kmeans_oracle_sql(k=k_cells, iters=iters)
    ids = ", ".join(str(i) for i in query_ids)
    return ctes + f""",
    qv AS (SELECT vec_id AS query_id, v AS qv FROM base
           WHERE vec_id IN ({ids})),
    qc AS (
      SELECT query_id, qv, s.cid,
             CAST(list_sum(list_transform(range(1, len(qv) + 1),
                  i -> (qv[i] - s.c[i]) * (qv[i] - s.c[i])))
                  AS BIGINT) AS cd2
      FROM qv CROSS JOIN {cents} s
    ),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cd2, cid) AS rn
        FROM qc) WHERE rn <= {n_probe}
    ),
    cands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(p.qv) + 1),
                  i -> (p.qv[i] - a.v[i]) * (p.qv[i] - a.v[i])))
                  AS BIGINT) AS dist2
      FROM probes p JOIN af a USING (cid)
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, rank, dist2 FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dist2, neighbor_id) AS rank
      FROM cands) WHERE rank <= {topk}
    """


def _semdedup_oracle(k: int = 8, iters: int = 2, tau: float = 0.99) -> str:
    """SemDeDup replayed closed-form: the k-means CTEs run over the
    corpus ∪ synthesized duplicates union, then within-cluster pairs,
    IEEE-exact cosine (BIGINT dot/norms over integer micros, then three
    correctly-rounded double ops), keep-min-id verdicts."""
    src = """(SELECT vec_id, list_transform(embedding,
                       x -> CAST(x AS DOUBLE)) AS embedding
              FROM embeddings
              UNION ALL
              SELECT vec_id + 10000 AS vec_id,
                     list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * 1.001) AS embedding
              FROM embeddings WHERE vec_id < 50)"""
    ctes, _ = _kmeans_oracle_sql(k=k, iters=iters, src=src)
    return ctes + f""",
    pr AS (
      SELECT b.vec_id AS b_id,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> a.v[i] * a.v[i])) AS BIGINT) AS n2a,
             CAST(list_sum(list_transform(range(1, len(b.v) + 1),
                  i -> b.v[i] * b.v[i])) AS BIGINT) AS n2b
      FROM af a JOIN af b USING (cid) WHERE a.vec_id < b.vec_id
    ),
    dp AS (
      SELECT b_id, CAST(dot AS DOUBLE)
                     / (sqrt(CAST(n2a AS DOUBLE))
                        * sqrt(CAST(n2b AS DOUBLE))) AS cos
      FROM pr
      WHERE CAST(dot AS DOUBLE)
              / (sqrt(CAST(n2a AS DOUBLE))
                 * sqrt(CAST(n2b AS DOUBLE))) >= {tau}
    ),
    w AS (
      SELECT b_id, CAST(count(*) AS BIGINT) AS n_dup_smaller,
             CAST(floor(1e6 * max(cos)) AS BIGINT) AS max_cos_micros
      FROM dp GROUP BY b_id
    )
    SELECT af.vec_id, af.cid, (w.b_id IS NULL) AS keep,
           coalesce(w.n_dup_smaller, CAST(0 AS BIGINT)) AS n_dup_smaller,
           w.max_cos_micros
    FROM af LEFT JOIN w ON af.vec_id = w.b_id
    """


def _pq_oracle(m: int = 4, k: int = 4, iters: int = 1,
               dim: int = 64) -> str:
    """Product quantization replayed closed-form: one prefixed k-means
    CTE chain per subspace (each trained over its slice of the
    embedding), then the per-subspace argmin codes and summed exact
    quantization error joined on vec_id."""
    sub = dim // m
    chains = []
    for s in range(m):
        src = (
            f"(SELECT vec_id, embedding[{s * sub + 1}:{(s + 1) * sub}]"
            " AS embedding FROM embeddings)"
        )
        ctes, _ = _kmeans_oracle_sql(
            k=k, iters=iters, src=src, prefix=f"p{s}"
        )
        chains.append(ctes if s == 0 else ctes[len("WITH "):])
    codes = ", ".join(f"s{s}.cid" for s in range(m))
    err = " + ".join(f"s{s}.d2" for s in range(m))
    joins = " ".join(
        f"JOIN p{s}af s{s} USING (vec_id)" for s in range(1, m)
    )
    return ",".join(chains) + f"""
    SELECT s0.vec_id, array_to_string([{codes}], ',') AS codes,
           CAST({err} AS BIGINT) AS recon_err
    FROM p0af s0 {joins}
    """


def _hll_register_cte(p: int = 6, where: str = "") -> str:
    """Shared CTEs: token keys → (register, max_rho) — the exact HLL
    sketch replay. bits(rem) is the static sum of power-of-two
    comparisons, the same expression shape the Spark operator uses.
    ``where`` optionally restricts the document shard (q166's
    cross-shard merge proof)."""
    width = 64 - p
    div = 1 << (32 - p)
    bits = " + ".join(
        f"CAST(rem >= {1 << i} AS INT)" for i in range(width)
    )
    return f"""
    k AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS key
      FROM documents {where}
    ),
    h AS (
      SELECT ('0x' || substr(md5(key), 1, 8))::BIGINT AS hi,
             ('0x' || substr(md5(key), 9, 8))::BIGINT AS lo
      FROM k
    ),
    r AS (
      SELECT CAST(floor(hi / {div}.0) AS BIGINT) AS register,
             (hi % {div}) * 4294967296 + lo AS rem
      FROM h
    ),
    sk AS (
      SELECT register,
             CAST(max({width} - ({bits}) + 1) AS BIGINT) AS max_rho
      FROM r GROUP BY register
    )"""


def _hll_estimate_oracle(p: int = 6) -> str:
    from ..operators.sketches import _alpha

    m = 1 << p
    num = 1e6 * _alpha(m) * m * m * float(1 << 61)
    return "WITH" + _hll_register_cte(p=p) + f"""
    , a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hit,
             CAST(sum(CASE WHEN max_rho <= 29 THEN
                        CAST(1 AS BIGINT) << CAST(29 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT)
               AS harmonic_hi,
             CAST(sum(CASE WHEN max_rho >= 30 THEN
                        CAST(1 AS BIGINT) << CAST(61 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT)
               AS harmonic_lo
      FROM sk
    )
    SELECT CAST({m} AS BIGINT) AS m, n_hit AS n_registers_hit,
           harmonic_hi, harmonic_lo,
           CAST(floor({num!r} / (CAST(harmonic_hi AS DOUBLE)
                       * 4294967296.0
                     + CAST(harmonic_lo AS DOUBLE)
                     + CAST({m} - n_hit AS DOUBLE)
                       * 2305843009213693952.0)) AS BIGINT)
             AS estimate_micros
    FROM a
    """


_CMS_CTES = """
    k AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS key
      FROM documents
    ),
    cms AS (
      SELECT CAST(r.row AS BIGINT) AS row,
             ('0x' || substr(md5(r.row || ':' || key), 1, 8))::BIGINT
               % 64 AS col,
             CAST(count(*) AS BIGINT) AS cnt
      FROM k, (VALUES (0), (1), (2), (3)) AS r(row)
      GROUP BY 1, 2
    )"""


# fixed BPE merge list for q156 — rank-ordered, every output symbol
# distinct (the bpe_encode one-pass-per-merge precondition); (a,n)→an
# feeding (an,d)→and exercises merge chaining
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"),
    ("a", "n"), ("an", "d"), ("e", "r"), ("o", "n"),
]


def _bpe_encode_oracle() -> str:
    enc = "regexp_replace(word, '(.)', chr(31) || '\\1' || chr(30), 'g')"
    for a, b in _BPE_MERGES:
        pat = (
            f"chr(31) || '{a}' || chr(30) || chr(31) || '{b}' || chr(30)"
        )
        rep = f"chr(31) || '{a}{b}' || chr(30)"
        enc = f"replace({enc}, {pat}, {rep})"
    return f"""
    WITH w AS (
      SELECT doc_id, unnest(list_filter(str_split(text, ' '),
                                        x -> length(x) > 0)) AS word
      FROM documents
    ),
    e AS (SELECT doc_id, {enc} AS sym FROM w),
    s AS (
      SELECT doc_id,
             unnest(str_split(substr(sym, 2, length(sym) - 2),
                              chr(30) || chr(31))) AS symbol
      FROM e
    )
    SELECT symbol, CAST(count(*) AS BIGINT) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM s GROUP BY symbol ORDER BY freq DESC, symbol
    """


def _hll_shard_oracle(p: int = 6) -> str:
    """q166 oracle: per-shard HLL sketches (doc_id parity) plus their
    max-merge, each estimated with the exact q124 arithmetic. The
    'merged' shard is literally UNION ALL + max over register — the
    same algebra as operators/sketches.py:hll_merge."""
    from ..operators.sketches import _alpha

    m = 1 << p
    width = 64 - p
    div = 1 << (32 - p)
    bits = " + ".join(
        f"CAST(rem >= {1 << i} AS INT)" for i in range(width)
    )
    num = 1e6 * _alpha(m) * m * m * float(1 << 61)
    return f"""
    WITH k AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS shard,
             unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS key
      FROM documents
    ),
    h AS (
      SELECT shard,
             ('0x' || substr(md5(key), 1, 8))::BIGINT AS hi,
             ('0x' || substr(md5(key), 9, 8))::BIGINT AS lo
      FROM k
    ),
    r AS (
      SELECT shard, CAST(floor(hi / {div}.0) AS BIGINT) AS register,
             (hi % {div}) * 4294967296 + lo AS rem
      FROM h
    ),
    sk0 AS (
      SELECT shard, register,
             CAST(max({width} - ({bits}) + 1) AS BIGINT) AS max_rho
      FROM r GROUP BY shard, register
    ),
    sk AS (
      SELECT shard, register, max_rho FROM sk0
      UNION ALL
      SELECT 'merged', register, max(max_rho)
      FROM sk0 GROUP BY register
    ),
    a AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_hit,
             CAST(sum(CASE WHEN max_rho <= 29 THEN
                        CAST(1 AS BIGINT) << CAST(29 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT)
               AS harmonic_hi,
             CAST(sum(CASE WHEN max_rho >= 30 THEN
                        CAST(1 AS BIGINT) << CAST(61 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT)
               AS harmonic_lo
      FROM sk GROUP BY shard
    )
    SELECT shard, CAST({m} AS BIGINT) AS m, n_hit AS n_registers_hit,
           CAST(floor({num!r} / (CAST(harmonic_hi AS DOUBLE)
                       * 4294967296.0
                     + CAST(harmonic_lo AS DOUBLE)
                     + CAST({m} - n_hit AS DOUBLE)
                       * 2305843009213693952.0)) AS BIGINT)
             AS estimate_micros
    FROM a
    """


def _bpe_fertility_oracle() -> str:
    enc = "regexp_replace(word, '(.)', chr(31) || '\\1' || chr(30), 'g')"
    for a, b in _BPE_MERGES:
        pat = (
            f"chr(31) || '{a}' || chr(30) || chr(31) || '{b}' || chr(30)"
        )
        rep = f"chr(31) || '{a}{b}' || chr(30)"
        enc = f"replace({enc}, {pat}, {rep})"
    return f"""
    WITH w AS (
      SELECT lang, unnest(list_filter(str_split(text, ' '),
                                      x -> length(x) > 0)) AS word
      FROM documents
    ),
    e AS (SELECT lang, word, {enc} AS sym FROM w),
    g AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(len(str_split(substr(sym, 2, length(sym) - 2),
                                    chr(30) || chr(31)))) AS BIGINT)
               AS n_bpe,
             CAST(sum(length(word)) AS BIGINT) AS n_word_chars
      FROM e GROUP BY lang
    )
    SELECT lang, n_words, n_bpe AS n_bpe_tokens, n_word_chars,
           (n_bpe * 1000000) // n_words AS fertility_micros,
           (n_word_chars * 1000000) // n_bpe
             AS chars_per_token_micros
    FROM g ORDER BY lang
    """


_Q189_SNAPSHOT_CTE = """
    c1{s} AS (SELECT dst, CAST(sum(s // 2) AS BIGINT) AS c
              FROM e{s} JOIN r0 ON e{s}.src = r0.node GROUP BY dst),
    r1{s} AS (SELECT d.doc_id AS node,
                   CAST(150000 + (85 * coalesce(c, 0)) // 100 AS BIGINT)
                     AS s
              FROM documents d LEFT JOIN c1{s} ON d.doc_id = c1{s}.dst),
    c2{s} AS (SELECT dst, CAST(sum(s // 2) AS BIGINT) AS c
              FROM e{s} JOIN r1{s} ON e{s}.src = r1{s}.node
              GROUP BY dst),
    r2{s} AS (SELECT d.doc_id AS node,
                   CAST(150000 + (85 * coalesce(c, 0)) // 100 AS BIGINT)
                     AS s
              FROM documents d LEFT JOIN c2{s} ON d.doc_id = c2{s}.dst),
    c3{s} AS (SELECT dst, CAST(sum(s // 2) AS BIGINT) AS c
              FROM e{s} JOIN r2{s} ON e{s}.src = r2{s}.node
              GROUP BY dst),
    r3{s} AS (SELECT d.doc_id AS node,
                   CAST(150000 + (85 * coalesce(c, 0)) // 100 AS BIGINT)
                     AS s
              FROM documents d LEFT JOIN c3{s} ON d.doc_id = c3{s}.dst)
"""


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction+TF over synthesized pages at sf0.001 —
    pandas-UDF parse → native tokenize → corpus TF."""
    docs = documents_as_pages(spark, "/root/testdata/sf0.001")
    ex = extract_pages(docs)
    return tfops.corpus_tf(ex).limit(1000)


# ---------------------------------------------------------------------------
# round-4 wave 7: curation gates the FineWeb/C4 recipes still lacked
# ---------------------------------------------------------------------------

_MOJIBAKE_SPLICE_FULL = ' CafÃ© crÃ¨me â€” Ã±oÃ±o â€œ Ã¼ber Â°'


_Q196_LINES_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN '- bullet point' || chr(10) ||
                       regexp_replace(text || ' tail end.',
                                      '(\\S+ \\S+ \\S+ \\S+ \\S+) ',
                                      '\\1' || chr(10), 'g')
                  ELSE regexp_replace(text || ' tail end.',
                                      '(\\S+ \\S+ \\S+ \\S+ \\S+) ',
                                      '\\1' || chr(10), 'g') END AS t
      FROM documents
"""


def _hll_intersection_oracle(p: int = 6) -> str:
    """q201 oracle: the q166 per-shard sketch replay, pivoted to one
    row, with inclusion-exclusion and the EXACT intersection beside it
    (affordable at test SF only — the whole point of the sketch is that
    production never computes it)."""
    from ..operators.sketches import _alpha

    m = 1 << p
    width = 64 - p
    div = 1 << (32 - p)
    bits = " + ".join(
        f"CAST(rem >= {1 << i} AS INT)" for i in range(width)
    )
    num = 1e6 * _alpha(m) * m * m * float(1 << 61)
    return f"""
    WITH k AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS shard,
             unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS key
      FROM documents
    ),
    h AS (
      SELECT shard,
             ('0x' || substr(md5(key), 1, 8))::BIGINT AS hi,
             ('0x' || substr(md5(key), 9, 8))::BIGINT AS lo
      FROM k
    ),
    r AS (
      SELECT shard, CAST(floor(hi / {div}.0) AS BIGINT) AS register,
             (hi % {div}) * 4294967296 + lo AS rem
      FROM h
    ),
    sk0 AS (
      SELECT shard, register,
             CAST(max({width} - ({bits}) + 1) AS BIGINT) AS max_rho
      FROM r GROUP BY shard, register
    ),
    sk AS (
      SELECT shard, register, max_rho FROM sk0
      UNION ALL
      SELECT 'merged', register, max(max_rho)
      FROM sk0 GROUP BY register
    ),
    a AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_hit,
             CAST(sum(CASE WHEN max_rho <= 29 THEN
                        CAST(1 AS BIGINT) << CAST(29 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT)
               AS harmonic_hi,
             CAST(sum(CASE WHEN max_rho >= 30 THEN
                        CAST(1 AS BIGINT) << CAST(61 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT)
               AS harmonic_lo
      FROM sk GROUP BY shard
    ),
    est AS (
      SELECT shard,
             CAST(floor({num!r} / (CAST(harmonic_hi AS DOUBLE)
                         * 4294967296.0
                       + CAST(harmonic_lo AS DOUBLE)
                       + CAST({m} - n_hit AS DOUBLE)
                         * 2305843009213693952.0)) AS BIGINT) AS e
      FROM a
    ),
    piv AS (
      SELECT max(CASE WHEN shard = 'even' THEN e END) AS est_a_micros,
             max(CASE WHEN shard = 'odd' THEN e END) AS est_b_micros,
             max(CASE WHEN shard = 'merged' THEN e END)
               AS est_union_micros
      FROM est
    ),
    ex AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_intersection FROM (
        SELECT DISTINCT key FROM k WHERE shard = 'even'
        INTERSECT
        SELECT DISTINCT key FROM k WHERE shard = 'odd'
      )
    )
    SELECT est_a_micros, est_b_micros, est_union_micros,
           est_a_micros + est_b_micros - est_union_micros
             AS est_intersection_micros,
           exact_intersection
    FROM piv, ex
    """


_Q206_CODE_SPLICE = '\ndef compute_fn(x):\n    total_1 = x + 42;\n    arr_y = [1, 2, 3];\n    return myValue + total_1;'


def _q207_oracle(p: int = 6) -> str:
    from ..operators.sketches import _alpha

    m = 1 << p
    width = 64 - p
    div = 1 << (32 - p)
    bits = " + ".join(
        f"CAST(rem >= {1 << i} AS INT)" for i in range(width)
    )
    num = 1e6 * _alpha(m) * m * m * float(1 << 61)
    return f"""
    WITH k AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS key
      FROM documents
    ),
    tc AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM k),
    h AS (
      SELECT ('0x' || substr(md5(key), 1, 8))::BIGINT AS hi,
             ('0x' || substr(md5(key), 9, 8))::BIGINT AS lo
      FROM k
    ),
    r AS (
      SELECT CAST(floor(hi / {div}.0) AS BIGINT) AS register,
             (hi % {div}) * 4294967296 + lo AS rem
      FROM h
    ),
    sk AS (
      SELECT register,
             CAST(max({width} - ({bits}) + 1) AS BIGINT) AS max_rho
      FROM r GROUP BY register
    ),
    est AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hit,
             CAST(sum(CASE WHEN max_rho <= 29 THEN
                        CAST(1 AS BIGINT) << CAST(29 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS hhi,
             CAST(sum(CASE WHEN max_rho >= 30 THEN
                        CAST(1 AS BIGINT) << CAST(61 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS hlo
      FROM sk
    ),
    vocab AS (
      SELECT CAST(floor({num!r} / (CAST(hhi AS DOUBLE) * 4294967296.0
                     + CAST(hlo AS DOUBLE)
                     + CAST({m} - n_hit AS DOUBLE)
                       * 2305843009213693952.0)) AS BIGINT)
               AS vocab_estimate_micros
      FROM est
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(count(DISTINCT string_split(lang, '-')[1]) AS BIGINT)
               AS n_langs,
             CAST(sum(length(text)) AS BIGINT) AS chars
      FROM documents
    ),
    dups AS (
      SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS uniq
      FROM documents
    )
    SELECT n_docs, n_tokens, n_sources, n_langs, vocab_estimate_micros,
           (n_docs - uniq) * 1000000 // n_docs AS exact_dup_micros,
           chars * 1000000 // n_docs AS mean_len_micros
    FROM base, tc, vocab, dups
    """


_Q208_CIDRS = (
    "10.3.0.0/16", "10.7.0.0/16", "10.11.0.0/16", "172.16.0.0/12",
    "10.42.1.0/24",
)


def _hyperball_oracle(radius: int = 2, p: int = 4) -> str:
    """Unrolled HyperBall replay: per-node seed registers from the same
    md5 bit-math as _hll_register_cte, then ``radius`` rounds of
    out-neighbor register max-merge, then q124's exact split-BIGINT
    harmonic recombination PER NODE."""
    from ..operators.sketches import _alpha

    m = 1 << p
    width = 64 - p
    div = 1 << (32 - p)
    bits = " + ".join(
        f"CAST(rem >= {1 << i} AS INT)" for i in range(width)
    )
    num = 1e6 * _alpha(m) * m * m * float(1 << 61)
    rounds = []
    prev = "s0"
    for t in range(1, radius + 1):
        rounds.append(f"""
    c{t} AS (
      SELECT e.src AS node, s.register, CAST(max(s.max_rho) AS BIGINT)
               AS max_rho
      FROM e JOIN {prev} s ON e.dst = s.node GROUP BY 1, 2
    ),
    s{t} AS (
      SELECT node, register, CAST(max(max_rho) AS BIGINT) AS max_rho
      FROM (SELECT * FROM {prev} UNION ALL SELECT * FROM c{t})
      GROUP BY 1, 2
    )""")
        prev = f"s{t}"
    return f"""
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM documents),
    e AS (
      SELECT doc_id AS src, (doc_id * 7 + 3) % N AS dst
      FROM documents, nn
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 5) % N FROM documents, nn
    ),
    h AS (
      SELECT doc_id AS node,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS hi,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
               AS lo
      FROM documents
    ),
    s0 AS (
      SELECT node, CAST(floor(hi / {div}.0) AS BIGINT) AS register,
             CAST({width} - ({bits}) + 1 AS BIGINT) AS max_rho
      FROM (SELECT node, hi, (hi % {div}) * 4294967296 + lo AS rem
            FROM h)
    ),{",".join(rounds)},
    a AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_registers_hit,
             CAST(sum(CASE WHEN max_rho <= 29 THEN
                        CAST(1 AS BIGINT) << CAST(29 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT)
               AS harmonic_hi,
             CAST(sum(CASE WHEN max_rho >= 30 THEN
                        CAST(1 AS BIGINT) << CAST(61 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT)
               AS harmonic_lo
      FROM {prev} GROUP BY node
    )
    SELECT node, n_registers_hit, harmonic_hi, harmonic_lo,
           CAST(floor({num!r} / (CAST(harmonic_hi AS DOUBLE)
                       * 4294967296.0
                     + CAST(harmonic_lo AS DOUBLE)
                     + CAST({m} - n_registers_hit AS DOUBLE)
                       * 2305843009213693952.0)) AS BIGINT)
             AS ball_estimate_micros
    FROM a
    """


def _neighborhood_oracle(max_radius: int = 2, p: int = 4) -> str:
    """q209's CTE chain, reduced to a 1-row (n_nodes, Σ floor-estimate)
    at EVERY radius, then normalized by the last radius' sum."""
    from ..operators.sketches import _alpha

    m = 1 << p
    width = 64 - p
    div = 1 << (32 - p)
    bits = " + ".join(
        f"CAST(rem >= {1 << i} AS INT)" for i in range(width)
    )
    num = 1e6 * _alpha(m) * m * m * float(1 << 61)

    def _est(t: int) -> str:
        return f"""
    a{t} AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_hit,
             CAST(sum(CASE WHEN max_rho <= 29 THEN
                        CAST(1 AS BIGINT) << CAST(29 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS hhi,
             CAST(sum(CASE WHEN max_rho >= 30 THEN
                        CAST(1 AS BIGINT) << CAST(61 - max_rho AS INT)
                      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS hlo
      FROM s{t} GROUP BY node
    ),
    l{t} AS (
      SELECT CAST({t} AS BIGINT) AS radius,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(CAST(floor({num!r} / (CAST(hhi AS DOUBLE)
                       * 4294967296.0 + CAST(hlo AS DOUBLE)
                     + CAST({m} - n_hit AS DOUBLE)
                       * 2305843009213693952.0)) AS BIGINT)) AS BIGINT)
               AS pairs_estimate_micros
      FROM a{t}
    )"""

    rounds = []
    for t in range(1, max_radius + 1):
        rounds.append(f"""
    c{t} AS (
      SELECT e.src AS node, s.register, CAST(max(s.max_rho) AS BIGINT)
               AS max_rho
      FROM e JOIN s{t - 1} s ON e.dst = s.node GROUP BY 1, 2
    ),
    s{t} AS (
      SELECT node, register, CAST(max(max_rho) AS BIGINT) AS max_rho
      FROM (SELECT * FROM s{t - 1} UNION ALL SELECT * FROM c{t})
      GROUP BY 1, 2
    )""")
    ests = ",".join(_est(t) for t in range(max_radius + 1))
    union = " UNION ALL ".join(
        f"SELECT * FROM l{t}" for t in range(max_radius + 1)
    )
    return f"""
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM documents),
    e AS (
      SELECT doc_id AS src, (doc_id * 7 + 3) % N AS dst
      FROM documents, nn
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 5) % N FROM documents, nn
    ),
    h AS (
      SELECT doc_id AS node,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS hi,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
               AS lo
      FROM documents
    ),
    s0 AS (
      SELECT node, CAST(floor(hi / {div}.0) AS BIGINT) AS register,
             CAST({width} - ({bits}) + 1 AS BIGINT) AS max_rho
      FROM (SELECT node, hi, (hi % {div}) * 4294967296 + lo AS rem
            FROM h)
    ),{",".join(rounds)},{ests},
    lv AS ({union}),
    mx AS (SELECT pairs_estimate_micros AS nmax FROM l{max_radius})
    SELECT radius, n_nodes, pairs_estimate_micros,
           pairs_estimate_micros * 1000000 // nmax AS pct_of_max_ppm
    FROM lv, mx
    """


def _bloom_shard_oracle(m_bits: int = 640, k: int = 7) -> str:
    return f"""
    WITH keys AS (
      SELECT doc_id % 8 AS shard, 'url:' || doc_id AS key FROM documents
    ),
    kp AS (
      SELECT shard,
             (('0x' || substr(md5(key), 1, 8))::BIGINT
              + i * ('0x' || substr(md5(key), 9, 8))::BIGINT)
               % {m_bits} AS pos
      FROM keys, range({k}) r(i)
    ),
    idx AS (
      SELECT shard, pos // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
      FROM kp GROUP BY 1, 2
    ),
    pq AS (
      SELECT 'url:' || doc_id AS key, doc_id % 8 AS true_shard
      FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT 'miss:' || doc_id, NULL FROM documents WHERE doc_id % 100 = 0
    ),
    pp AS (
      SELECT key,
             (('0x' || substr(md5(key), 1, 8))::BIGINT
              + i * ('0x' || substr(md5(key), 9, 8))::BIGINT)
               % {m_bits} AS pos
      FROM (SELECT DISTINCT key FROM pq), range({k}) r(i)
    ),
    pb AS (
      SELECT key, pos // 32 AS word_idx,
             CAST(1 AS BIGINT) << CAST(pos % 32 AS INT) AS bit
      FROM pp
    ),
    hits AS (
      SELECT pb.key, idx.shard
      FROM pb JOIN idx USING (word_idx)
      WHERE (idx.word & pb.bit) <> 0
      GROUP BY 1, 2
      HAVING count(*) = {k}
    )
    SELECT h.key, h.shard,
           coalesce(h.shard = p.true_shard, FALSE) AS is_true_positive
    FROM hits h
    JOIN (SELECT DISTINCT key, true_shard FROM pq) p ON h.key = p.key
    """


_Q213_PAYLOAD = (
    "shared canonical quotation payload tokens alpha bravo charlie "
    "delta echo foxtrot golf"
)


def _ipf_oracle(iters: int = 2) -> str:
    body = ["""
    WITH c AS (
      SELECT source AS row_key, lang AS col_key,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
    rt AS (
      SELECT row_key,
             CAST(1000000 // (SELECT count(DISTINCT row_key) FROM c)
                  AS BIGINT) AS tgt
      FROM (SELECT DISTINCT row_key FROM c)
    ),
    ct AS (
      SELECT col_key,
             CAST(1000000 // (SELECT count(DISTINCT col_key) FROM c)
                  AS BIGINT) AS tgt
      FROM (SELECT DISTINCT col_key FROM c)
    ),
    w0 AS (
      SELECT row_key, col_key, n, n * 1000000 // t AS nm,
             CAST(1000000 AS BIGINT) AS w
      FROM c, tot
    )"""]
    prev = "w0"
    step = 0
    for _ in range(iters):
        step += 1
        body.append(f""",
    rs{step} AS (SELECT row_key, CAST(sum(nm * w) AS BIGINT) AS s
                 FROM {prev} GROUP BY row_key),
    wr{step} AS (
      SELECT p.row_key, p.col_key, p.n, p.nm,
             CAST(p.w * rt.tgt // greatest(rs{step}.s // 1000000, 1)
                  AS BIGINT) AS w
      FROM {prev} p JOIN rs{step} USING (row_key)
      JOIN rt USING (row_key)
    ),
    cs{step} AS (SELECT col_key, CAST(sum(nm * w) AS BIGINT) AS s
                 FROM wr{step} GROUP BY col_key),
    wc{step} AS (
      SELECT p.row_key, p.col_key, p.n, p.nm,
             CAST(p.w * ct.tgt // greatest(cs{step}.s // 1000000, 1)
                  AS BIGINT) AS w
      FROM wr{step} p JOIN cs{step} USING (col_key)
      JOIN ct USING (col_key)
    )""")
        prev = f"wc{step}"
    body.append(f"""
    SELECT row_key, col_key, n, w AS weight_micros FROM {prev}
    """)
    return "".join(body)


def _bottomk_cte(k: int = 16) -> str:
    """Shared oracle CTEs for the KMV bottom-k sketch: per-source
    distinct-token hashes, the direct bottom-k, and the two-shard
    (even/odd doc_id) merge path."""
    return f"""
    tok AS (
      SELECT source, doc_id,
             unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS w
      FROM documents
    ),
    hsh AS (
      SELECT DISTINCT source AS grp, doc_id % 2 AS shard,
             ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
      FROM tok
    ),
    direct AS (
      SELECT grp, h, row_number() OVER (
        PARTITION BY grp ORDER BY h
      ) AS rank
      FROM (SELECT DISTINCT grp, h FROM hsh)
    ),
    dk AS (SELECT grp, rank, h FROM direct WHERE rank <= {k}),
    shardk AS (
      SELECT grp, shard, h FROM (
        SELECT grp, shard, h, row_number() OVER (
          PARTITION BY grp, shard ORDER BY h
        ) AS rank
        FROM (SELECT DISTINCT grp, shard, h FROM hsh)
      ) WHERE rank <= {k}
    ),
    merged AS (
      SELECT grp, rank, h FROM (
        SELECT grp, h, row_number() OVER (
          PARTITION BY grp ORDER BY h
        ) AS rank
        FROM (SELECT DISTINCT grp, h FROM shardk)
      ) WHERE rank <= {k}
    ),
    exact AS (
      SELECT grp, CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct
      FROM hsh GROUP BY grp
    )"""


# --- wave: bitext margin scoring / JL projection / phrase search /
#           MAD outliers / personalized PageRank / signal correlations
#           (q221-q226) ------------------------------------------------------


_BUCKET8_SQL = """
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
       + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
       + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
       + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
       + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)
"""


# --- wave: head metadata — robots meta / OpenGraph / JSON-LD (q267-q269) ------


def _meta_pages(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    robots_content = F.element_at(
        F.array(F.lit(""), F.lit("noindex"), F.lit("nofollow"),
                F.lit("none")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    # attribute order + quote style vary by parity — both served in the
    # wild, both must parse
    robots_meta = F.when(
        F.col("doc_id") % 4 == 0, F.lit("")
    ).when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit('<meta name="robots" content="'),
                 robots_content, F.lit('">')),
    ).otherwise(
        F.concat(F.lit('<meta content="'), robots_content,
                 F.lit("\" name='robots'>")),
    )
    html = F.concat(
        F.lit("<html><head>"),
        robots_meta,
        F.lit('<meta property="og:title" content="Doc '), sid,
        F.lit('"><meta property="og:type" content="'), F.col("source"),
        F.lit('"><meta name="author" content="crawler">'),
        F.lit('<script type="application/ld+json">'),
        F.lit('{"@type":"Article","name":"Doc '), sid, F.lit('"}'),
        F.lit("</script>"),
        F.lit('<script type="application/ld+json">{oops</script>'),
        F.lit("</head><body>x</body></html>"),
    )
    return d.select("doc_id", html.alias("html"))


# --- wave: inline data-URI image fingerprinting (q277) ------------------------

_B64_STRIPES = (
    "iVBORw0KGgoAAAANSUhEUgAAABAAAAAQCAAAAAA6mKC9AAABG0lEQVR4AQEQAe/+AAD/"
    "AP8A/wD/AP8A/wD/AP8AAP8A/wD/AP8A/wD/AP8A/wAA/wD/AP8A/wD/AP8A/wD/AAD/"
    "AP8A/wD/AP8A/wD/AP8AAP8A/wD/AP8A/wD/AP8A/wAA/wD/AP8A/wD/AP8A/wD/AAD/"
    "AP8A/wD/AP8A/wD/AP8AAP8A/wD/AP8A/wD/AP8A/wAA/wD/AP8A/wD/AP8A/wD/AAD/"
    "AP8A/wD/AP8A/wD/AP8AAP8A/wD/AP8A/wD/AP8A/wAA/wD/AP8A/wD/AP8A/wD/AAD/"
    "AP8A/wD/AP8A/wD/AP8AAP8A/wD/AP8A/wD/AP8A/wAA/wD/AP8A/wD/AP8A/wD/AAD/"
    "AP8A/wD/AP8A/wD/AP+BPX+BMu2MqQAAAABJRU5ErkJggg=="
)
_B64_HALF = (
    "iVBORw0KGgoAAAANSUhEUgAAABAAAAAQCAAAAAA6mKC9AAABG0lEQVR4AQEQAe/+AAAA"
    "AAAAAAAA//////////8AAAAAAAAAAAD//////////wAAAAAAAAAAAP//////////AAAA"
    "AAAAAAAA//////////8AAAAAAAAAAAD//////////wAAAAAAAAAAAP//////////AAAA"
    "AAAAAAAA//////////8AAAAAAAAAAAD//////////wAAAAAAAAAAAP//////////AAAA"
    "AAAAAAAA//////////8AAAAAAAAAAAD//////////wAAAAAAAAAAAP//////////AAAA"
    "AAAAAAAA//////////8AAAAAAAAAAAD//////////wAAAAAAAAAAAP//////////AAAA"
    "AAAAAAAA///////////C33+B+hcjGgAAAABJRU5ErkJggg=="
)


# --- wave: gzipped sitemap ingestion (q334) -----------------------------------

# deterministic fixture blobs (gzip mtime=0, level 6): a 2-loc gzipped
# sitemap, and a corrupt payload wearing the gzip magic
_GZ_SITEMAP_B64 = (
    "H4sIAAAAAAAAA7Oxr8jNUShLLSrOzM+zVTLUM1Cyt7MpLcopTi0B03Y2OfnJdhkl"
    "JQXFVvr66VV6qRWJuQU5qXrJ+bn6iTb6IFkbfbBCQqqTUFTrQy0BAIJJ2h2CAAAA"
)
_GZ_CORRUPT_B64 = "H4sAY29ycnVwdGVkLXBheWxvYWQ="


__all__ = [  # star-exported to the per-domain query modules
    '_tz',
    'DataFrame',
    'SparkSession',
    'Window',
    'F',
    '_utc',
    'with_tokens',
    'tfops',
    'extract_pages',
    '_read',
    'documents_as_pages',
    '_TOKENS_CTE',
    '_EXPECTED_TEXT',
    '_extracted',
    'QUERIES',
    'ORACLE',
    'q',
    '_tokens_df',
    '_TOKSTR_CTE',
    '_MINHASH_CTES',
    '_tokstr_df',
    '_SIMHASH_CTES',
    'documents_as_simple_pages',
    '_SIMPLE_HTML_SQL',
    '_SIMPLE_TEXT_SQL',
    '_sql_quoted_stoplist',
    '_sql_stop_clause',
    'documents_as_seo_pages',
    'EMAIL_RE',
    'EMAIL_TOKEN',
    'IPV4_RE',
    'IPV4_TOKEN',
    'PHONE_RE',
    'PHONE_TOKEN',
    'redact_pii',
    '_Q73_SQL',
    '_Q76_TOKENS',
    '_MOJI',
    '_MOJI_SUM_SQL',
    '_Q106_PAYLOAD',
    '_Q106_CTES',
    '_kmeans_oracle_sql',
    '_kmeans_assign_oracle',
    '_ivf_trained_oracle',
    '_semdedup_oracle',
    '_pq_oracle',
    '_hll_register_cte',
    '_hll_estimate_oracle',
    '_CMS_CTES',
    '_BPE_MERGES',
    '_bpe_encode_oracle',
    '_hll_shard_oracle',
    '_bpe_fertility_oracle',
    '_Q189_SNAPSHOT_CTE',
    'entry',
    '_MOJIBAKE_SPLICE_FULL',
    '_Q196_LINES_SQL',
    '_hll_intersection_oracle',
    '_Q206_CODE_SPLICE',
    '_q207_oracle',
    '_Q208_CIDRS',
    '_hyperball_oracle',
    '_neighborhood_oracle',
    '_bloom_shard_oracle',
    '_Q213_PAYLOAD',
    '_ipf_oracle',
    '_bottomk_cte',
    '_BUCKET8_SQL',
    '_meta_pages',
    '_B64_STRIPES',
    '_B64_HALF',
    '_GZ_SITEMAP_B64',
    '_GZ_CORRUPT_B64',
]
