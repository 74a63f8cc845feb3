"""Tokenization — reference ``clean_and_tokenize`` (text_utils.py:99-116).

Semantics (pinned by the reference's tests, tests/test_text_utils.py:75-95):
``re.sub(r"[^A-Za-zÀ-ÿ]+", " ", text)`` → collapse whitespace → strip →
lower → split → keep tokens with ``len >= 2`` not in the language's
stopword set.

Verified quirks reproduced faithfully (SURVEY.md §2.2 O2): the keep-range is
U+0041-5A / U+0061-7A / U+00C0-FF, so ``×`` (U+00D7) and ``÷`` (U+00F7) are
kept inside tokens, digits split tokens, and any char ≥ U+0100 (CJK,
Cyrillic, 'Ā'…) is dropped.

Two equivalent implementations:

* :func:`clean_and_tokenize` — pure Python; the extraction pandas UDF
  (operators/extract.py) runs it on every page right after the parse, so
  this is the hot path. The oracle and tests use it too.
* :func:`tokens_col` — native Spark Column expression (regexp_replace /
  lower / split / filter, JVM-side) for documents that already carry
  text: :func:`with_tokens` feeds it to the retrieval, dedup and
  streaming queries. The two are asserted identical in tests.
"""

from __future__ import annotations

import re
from typing import List

from .stopwords import get_stopwords

MIN_TOKEN_LENGTH = 2  # text_utils.py:39
_CLEAN_RE = re.compile(r"[^A-Za-zÀ-ÿ]+")  # text_utils.py:40
_SPACE_RE = re.compile(r"\s+")  # text_utils.py:41

# Same pattern, Java regex syntax (identical codepoint semantics here).
CLEAN_PATTERN_SQL = "[^A-Za-zÀ-ÿ]+"


def clean_and_tokenize(text: str, language: str = "en", profile: str = "compat") -> List[str]:
    """Line-faithful reimplementation of text_utils.py:99-116.

    The reference's second pass (``\\s+``→" " then strip) is provably a
    no-op before ``.split()``: the first sub replaces every non-letter RUN
    (which includes all whitespace) with a single space, and split() ignores
    leading/trailing/repeated whitespace anyway. Token-stream equality is
    pinned by tests/test_tokenize.py::test_second_sub_redundant; dropping
    the pass saves a full regex scan per page in every extraction UDF."""
    cleaned = _CLEAN_RE.sub(" ", text).lower()
    tokens = cleaned.split()
    stop_words = get_stopwords(language, profile)
    return [
        t for t in tokens if len(t) >= MIN_TOKEN_LENGTH and t not in stop_words
    ]


def tokens_col(text_col, stop_col):
    """Native-Spark tokenization: ``tokens_col(F.col("text"), F.col("stops"))``.

    ``stop_col`` is an ``array<string>`` column of stopwords for the row's
    language (attach via a broadcast join against the stopword dim table —
    see :func:`stopwords_df`). Stays JVM-side: regexp_replace → lower →
    trim → split → filter (higher-order function); no Python in the loop.
    """
    from pyspark.sql import functions as F

    cleaned = F.lower(F.trim(F.regexp_replace(text_col, CLEAN_PATTERN_SQL, " ")))
    toks = F.split(cleaned, " ")
    return F.filter(
        toks,
        lambda t: (F.length(t) >= MIN_TOKEN_LENGTH) & ~F.array_contains(stop_col, t),
    )


_LEGACY_STRIP_RE = re.compile(r"[^a-zA-Z\s]")  # scripts/main.py:93


def legacy_clean_and_tokenize(text: str, language: str = "english",
                              profile: str = "nltk") -> List[str]:
    """Legacy ``scripts/main.py:91-97`` tokenizer — semantics differ from
    the package tokenizer (text_utils.py:99-116) in three pinned ways:

    * non-ASCII-letter chars are DELETED in place, not replaced by a
      space, so fragments join ("don't" → "dont", "a1b" → "ab") and
      accented letters vanish entirely;
    * minimum kept length is 3 (``len > 2``), not 2;
    * the stopword set is looked up by NLTK language NAME ("english"),
      straight ``nltk.corpus.stopwords.words`` — no CLI-code mapping, no
      fallback sets — served here from the vendored corpus (profile
      'nltk')."""
    cleaned = _SPACE_RE.sub(" ", _LEGACY_STRIP_RE.sub("", text))
    tokens = cleaned.lower().split()
    stop_words = get_stopwords(language, profile)
    return [t for t in tokens if t not in stop_words and len(t) > 2]


def legacy_tokens_col(text_col, stop_col):
    """Native-Column form of :func:`legacy_clean_and_tokenize`
    (``stop_col``: array<string> of stopwords, e.g. a broadcast dim or an
    inline literal array)."""
    from pyspark.sql import functions as F

    cleaned = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(text_col, r"[^a-zA-Z\s]", ""), r"\s+", " "
            )
        )
    )
    toks = F.split(cleaned, " ")
    return F.filter(
        toks,
        lambda t: (F.length(t) > 2) & ~F.array_contains(stop_col, t),
    )


def stopwords_df(spark, languages, profile: str = "compat"):
    """Tiny dimension table ``(lang, stops array<string>)`` meant to be
    broadcast-joined onto the documents table (small-dim broadcast is the
    scale-correct way to make stopwords available to 1000 executors)."""
    rows = [
        (lang, sorted(get_stopwords(lang, profile))) for lang in sorted(set(languages))
    ]
    return spark.createDataFrame(rows, "lang string, stops array<string>")


def with_tokens(df, languages=None, profile: str = "compat"):
    """documents(text, lang, …) → + tokens column, fully native.

    Broadcast-joins the per-language stopword dim (a few KB) so the plan is
    scan → BroadcastHashJoin → project; no shuffle, no Python worker.
    """
    from pyspark.sql import functions as F

    if languages is None:
        languages = list(LANGUAGE_CODES)
    dim = stopwords_df(df.sparkSession, languages, profile)
    joined = df.join(F.broadcast(dim), df["lang"] == dim["lang"], "left").drop(dim["lang"])
    stops = F.coalesce(F.col("stops"), F.array().cast("array<string>"))
    return joined.withColumn("tokens", tokens_col(F.col("text"), stops)).drop("stops")


LANGUAGE_CODES = (
    "en", "pt-br", "es", "fr", "it", "de", "zh-cn", "zh", "ja", "ru", "ar", "pt",
)


def stop_pairs_df(spark, languages=None, profile: str = "compat"):
    """(lang, word) stopword pair dim for anti-join filtering (a few KB)."""
    if languages is None:
        languages = list(LANGUAGE_CODES)
    rows = [
        (lang, w)
        for lang in sorted(set(languages))
        for w in sorted(get_stopwords(lang, profile))
    ]
    if not rows:
        rows = [("__none__", "__none__")]
    return spark.createDataFrame(rows, "lang string, word string")


def exploded_words(df, profile: str = "compat", extra_cols=("url",)):
    """Long-format tokenization — the TF-pipeline hot path.

    ``explode(split(text, CLEAN)) → lower → length>=2 filter → broadcast
    LEFT ANTI join (lang, word) stopword pairs``. Unlike the array-based
    :func:`tokens_col` (which uses higher-order functions — interpreted,
    excluded from whole-stage codegen, and re-evaluated by Filter/Project/
    Generate), every operator here is flat and codegen-friendly; measured
    ~4× faster end-to-end on the corpus-TF benchmark. Token multiset is
    identical to the reference semantics: split on the non-keep class yields
    the same maximal letter runs; empties fall to the length filter;
    clean-before-lower order is preserved by lowering per token.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    raw = df.select(
        *extra_cols, "lang",
        F.explode(F.split(F.col("text"), CLEAN_PATTERN_SQL)).alias("_w0"),
    )
    words = raw.select(
        *extra_cols, "lang", F.lower(F.col("_w0")).alias("word")
    ).filter(F.length("word") >= MIN_TOKEN_LENGTH)
    stops = stop_pairs_df(spark, profile=profile)
    return words.join(
        F.broadcast(stops),
        ["lang", "word"],
        "left_anti",
    )
