"""Bitext candidate mining — cross-lingual parallel-page pairing by URL
structure.

Beyond-reference capability (task brief: LLM-data-pipeline operators).
Web-scale parallel corpora (ParaCrawl, CCMatrix, the WMT web tracks) start
from exactly this primitive: on multilingual sites the French page usually
lives at the same path as the English one with only a language segment
swapped (``/en/docs/3`` vs ``/fr/docs/3``, ``example.com/en/…`` vs
``example.com/fr/…``). Pairing candidates by that structural key turns an
impossible all-pairs document alignment into a per-site equi-join; content
alignment (hunalign / vecalign / LASER margin scoring) then only runs on
the candidate pairs.

Scale shape: ONE narrow projection derives the language-neutral URL
template per page (pure JVM ``regexp_replace`` — no Python), then a
self-equi-join on ``(host, template)``. The join key is site-local, so
the shuffle partitions by site and no pair ever crosses hosts; skew is
bounded by the page count of one site section (salt the template key if a
single site section is degenerate). A length-ratio gate (Fan et al. 2020,
CCMatrix preprocessing) drops pairs whose document sizes differ more than
2:1 BEFORE any content work, in the same join projection.

Reference parity note: the reference crawler is single-site and
monolingual (``site_language`` is one project-level constant,
tribeca_insights/cli.py); bitext mining has no counterpart there — this
is a pure scale-path addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# A path segment that IS a language tag: 2-letter ISO 639-1, optionally
# with a region ("en", "pt-br", "zh_CN"), surrounded by slashes.  Kept
# RE2-compatible (no lookarounds) so the DuckDB oracle replays it: the
# slashes are consumed and re-emitted in the replacement, which makes
# adjacent segments ("/en/fr/") single-match in BOTH engines (the second
# segment lost its leading slash to the first match).
_LANG_SEG = r"/[a-z]{2}(?:[-_][a-zA-Z]{2})?/"


def url_lang_template(url_col, lang_col):
    """Language-neutral template of ``url_col``: each slash-delimited
    path segment that looks like a language tag is replaced with
    ``/{L}/``.  Pages whose URL carries no language segment template to
    themselves and simply never meet a partner from another language
    (they pair only when the declared ``lang`` differs but the URL
    matches — the subdomain-less ccTLD-less case is out of scope for
    the structural miner)."""
    return F.regexp_replace(url_col, _LANG_SEG, "/{L}/")


def bitext_candidates(pages: DataFrame, max_ratio_x2: int = 4) -> DataFrame:
    """Candidate parallel-document pairs from URL structure.

    Input: one row per page with ``url``, declared ``lang``, a cheap size
    proxy (chars or tokens) and an id.  Output: one row per unordered
    candidate pair (lang_a < lang_b lexicographically) with the shared
    template and both sizes, gated on ``2*min_size*… `` — the integer
    form of ``max(size)/min(size) <= max_ratio_x2/2`` (default 2:1).

    Shape: projection → self-equi-join on the template key → filter.
    The join is site-keyed (the template embeds the host), so at corpus
    scale it partitions by site section; nothing global, no windows.
    """
    t = pages.select(
        F.col("doc_id").alias("_id"),
        F.col("lang").alias("_lang"),
        F.col("n_chars").cast("bigint").alias("_size"),
        url_lang_template(F.col("url"), F.col("lang")).alias("tpl"),
    )
    a = t.select(
        F.col("tpl"),
        F.col("_id").alias("id_a"),
        F.col("_lang").alias("lang_a"),
        F.col("_size").alias("size_a"),
    )
    b = t.select(
        F.col("tpl"),
        F.col("_id").alias("id_b"),
        F.col("_lang").alias("lang_b"),
        F.col("_size").alias("size_b"),
    )
    pairs = a.join(b, "tpl").filter(
        (F.col("lang_a") < F.col("lang_b"))
        & (F.col("size_a") * 2 <= F.col("size_b") * max_ratio_x2)
        & (F.col("size_b") * 2 <= F.col("size_a") * max_ratio_x2)
    )
    return pairs.select(
        "tpl", "id_a", "lang_a", "size_a", "id_b", "lang_b", "size_b"
    )

def bitext_margin_scores(
    emb: DataFrame,
    k: int = 4,
    bits: int = 8,
) -> DataFrame:
    """Margin-based bitext pair scoring (stage 2 — Artetxe & Schwenk
    2019's ratio margin, the CCMatrix / LASER mining criterion):
    a raw cosine is meaningless across languages because hubness makes
    some vectors near EVERYTHING; the margin normalizes each candidate
    cosine by the average cosine of both endpoints' k nearest
    candidates, so only pairs that stand OUT from their neighborhoods
    survive::

        margin(x, y) = 2·cos(x, y) / (avgk(x) + avgk(y))

    Scale shape: candidates come from a sign-LSH bucket equi-join
    (``bits``-bit blocking key — the same primitive as ann_signlsh),
    never an all-pairs cross; the two k-NN averages are windows
    PARTITIONED BY the endpoint id (key-local top-k, no global sort);
    the final best-partner pick is another id-partitioned window. At
    10^12 vectors every stage is a bucket- or id-keyed shuffle.

    Input: one row per vector with ``side`` ∈ {0, 1} (source vs target
    language pool). Output: one row per source vector x that met ≥ 1
    candidate — its best partner by margin, with ``sim``/``avgk_x``/
    ``margin`` rounded to 4 decimals (the repo-wide cross-engine
    float-parity contract, similarity.py:9-12); the k-NN averages are
    rounded to 6 — an average of k<=10 4-decimal sims is EXACT at 6
    decimals (a grid point, maximally far from any rounding boundary),
    so both engines feed bit-identical inputs into the margin division
    (round-4 there was tie-PRONE: sum/4 of 4dp values lands exactly on
    .xxxx5 midpoints).

    Reference parity: none (single-site monolingual crawler) — pure
    scale-path addition like :func:`bitext_candidates`, whose output
    pairs can replace the LSH blocking here 1:1.
    """
    from .similarity import _dbl, cosine_col, sign_lsh_bucket

    base = emb.select(
        F.col("vec_id").cast("long").alias("_id"),
        _dbl(F.col("embedding")).alias("_v"),
        sign_lsh_bucket(F.col("embedding"), bits).alias("bucket"),
        F.col("side").cast("int").alias("_side"),
    )
    x = base.filter(F.col("_side") == 0).select(
        "bucket", F.col("_id").alias("id_x"), F.col("_v").alias("_vx")
    )
    y = base.filter(F.col("_side") == 1).select(
        "bucket", F.col("_id").alias("id_y"), F.col("_v").alias("_vy")
    )
    cand = (
        x.join(y, "bucket")
        .withColumn("sim", F.round(cosine_col(F.col("_vx"), F.col("_vy")), 4))
        .select("bucket", "id_x", "id_y", "sim")
    )
    wx = Window.partitionBy("id_x").orderBy(F.desc("sim"), F.asc("id_y"))
    wy = Window.partitionBy("id_y").orderBy(F.desc("sim"), F.asc("id_x"))
    knn_x = (
        cand.withColumn("_r", F.row_number().over(wx))
        .filter(F.col("_r") <= k)
        .groupBy("id_x")
        .agg(F.round(F.avg("sim"), 6).alias("avgk_x"))
    )
    knn_y = (
        cand.withColumn("_r", F.row_number().over(wy))
        .filter(F.col("_r") <= k)
        .groupBy("id_y")
        .agg(F.round(F.avg("sim"), 6).alias("avgk_y"))
    )
    scored = (
        cand.join(knn_x, "id_x")
        .join(knn_y, "id_y")
        .withColumn(
            "margin",
            F.round(
                F.lit(2.0) * F.col("sim")
                / (F.col("avgk_x") + F.col("avgk_y")),
                4,
            ),
        )
    )
    best = Window.partitionBy("id_x").orderBy(
        F.desc("margin"), F.asc("id_y")
    )
    return (
        scored.withColumn("_r", F.row_number().over(best))
        .filter(F.col("_r") == 1)
        .select("id_x", "id_y", "sim", "avgk_x", "avgk_y", "margin")
    )


def align_sentences_banded(
    sent_a: DataFrame,
    sent_b: DataFrame,
    band: int = 2,
) -> DataFrame:
    """Banded diagonal sentence alignment inside candidate document
    pairs — hunalign/Gale-Church's core insight made relational:
    parallel documents align near the DIAGONAL (sentence i of the
    source sits near position i·nb/na of the target), so restricting
    candidates to a ±``band`` corridor around it turns the quadratic
    alignment matrix into a linear one; lexical overlap (exact Jaccard
    of token sets — cognates/numbers/names survive translation) then
    picks each source sentence's best partner.

    Inputs: per-side sentence tables (pair_id, idx, n_sents, tokens:
    array<string>). The corridor condition is stated in INTEGER cross-
    multiplied form ``|j·na − i·nb| ≤ band·na`` (no division, no
    floats); similarity is ``jacc_micros = |A∩B|·1e6 div |A∪B|`` on
    DISTINCT tokens — exact integers end-to-end, strict-oracle-safe.

    Shape: ONE pair_id equi-join (pair-local — the shuffle partitions
    by document pair, nothing global) with the corridor as a post-join
    codegen filter; best-partner is a window partitioned by
    (pair_id, i). At corpus scale pairs are independent: skew is
    bounded by the longest single document. Output: one row per source
    sentence with a corridor partner — (pair_id, i, j, jacc_micros).
    """
    a = sent_a.select(
        F.col("pair_id").alias("pid"),
        F.col("idx").alias("i"),
        F.col("n_sents").alias("na"),
        F.array_distinct("tokens").alias("ta"),
    )
    b = sent_b.select(
        F.col("pair_id").alias("pid"),
        F.col("idx").alias("j"),
        F.col("n_sents").alias("nb"),
        F.array_distinct("tokens").alias("tb"),
    )
    cand = a.join(b, "pid").filter(
        F.abs(F.col("j") * F.col("na") - F.col("i") * F.col("nb"))
        <= F.lit(band) * F.col("na")
    )
    scored = cand.select(
        F.col("pid").alias("pair_id"),
        "i",
        "j",
        F.size(F.array_intersect("ta", "tb"))
        .cast("bigint")
        .alias("_i"),
        F.size(F.array_union("ta", "tb")).cast("bigint").alias("_u"),
    ).select(
        "pair_id",
        "i",
        "j",
        F.expr(
            "CASE WHEN _u > 0 THEN _i * 1000000L div _u ELSE 0L END"
        ).alias("jacc_micros"),
    )
    best = Window.partitionBy("pair_id", "i").orderBy(
        F.desc("jacc_micros"), F.asc("j")
    )
    return (
        scored.withColumn("_r", F.row_number().over(best))
        .filter(F.col("_r") == 1)
        .select("pair_id", "i", "j", "jacc_micros")
    )
