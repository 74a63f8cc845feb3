"""Text normalization — control/zero-width stripping + whitespace collapse.

Beyond-reference capability (task brief): raw web text carries C0 control
bytes, zero-width joiners, and BOMs that survive HTML extraction and
poison tokenizers and dedup hashes downstream (two byte-different copies
of the same page must hash equal AFTER normalization). The reference only
ever collapses whitespace (extractor.py's ``' '.join(split())``); this is
the fuller cleanup every pre-training pipeline runs first.

Pure Column expressions (two ``regexp_replace`` + ``trim`` — narrow,
codegen'd, shuffle-free). The character classes are written in both Java
regex (Spark) and RE2 (DuckDB oracle) forms; keep them in sync:

  strip:  C0 controls except \\t \\n \\r, DEL, U+200B..U+200D, U+FEFF
  collapse: runs of ``\\s`` to one space, then trim
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Java-regex (Spark) form
CONTROL_CLASS = (
    "[\\u0000-\\u0008\\u000B\\u000C\\u000E-\\u001F\\u007F"
    "\\u200B-\\u200D\\uFEFF]"
)


def strip_controls(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, CONTROL_CLASS, "")


def normalize_text_col(col) -> Column:
    """Strip junk characters, collapse whitespace runs, trim."""
    return F.trim(F.regexp_replace(strip_controls(col), r"\s+", " "))


def with_normalized_text(df):
    """Adds ``norm_text`` plus ``n_junk_chars`` (how many characters the
    control/zero-width strip removed — a cheap corruption signal worth
    keeping as a quality feature)."""
    c = F.col("text")
    return df.withColumn("norm_text", normalize_text_col(c)).withColumn(
        "n_junk_chars",
        (F.length(c) - F.length(strip_controls(c))).cast("long"),
    )


# --- Unicode NFC normalization (Arrow-batched; stdlib unicodedata) ----------

def _nfc_batch(texts):
    import unicodedata

    import pandas as pd

    return pd.Series(
        [
            unicodedata.normalize("NFC", t) if t is not None else None
            for t in texts
        ]
    )


def nfc_udf():
    """Pandas UDF computing Unicode NFC — built lazily so importing this
    module never requires an active SparkSession."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    return pandas_udf(_nfc_batch, StringType())


def with_nfc_text(df):
    """Adds ``nfc_text`` = NFC(text) plus ``nfc_changed`` — canonical
    composition (combining marks fold into precomposed codepoints) so
    hash-based dedup and token matching treat 'e'+U+0301 and 'é' as the
    SAME text. Web corpora mix both forms (editor/OS dependent); skipping
    this step silently splits duplicate clusters. Arrow-batched stdlib
    ``unicodedata`` — the canonical tables themselves, not a
    reimplementation; the q101 oracle cross-checks against DuckDB's
    independent ``nfc_normalize`` implementation."""
    c = F.col("text")
    out = df.withColumn("nfc_text", nfc_udf()(c))
    return out.withColumn("nfc_changed", F.col("nfc_text") != c)


# ---------------------------------------------------------------------------
# mojibake repair (ftfy-style, bounded literal mapping)
# ---------------------------------------------------------------------------

# UTF-8 bytes decoded as latin-1/cp1252 produce stable digraph/trigraph
# garbage ("é" -> "Ã©", em-dash -> "â€”"). This
# table is the closed-form subset an engine can apply deterministically on
# BOTH sides of an oracle -- LONGEST patterns first so the trigraphs win
# over the bare "Ãx" digraphs; each left-hand side is essentially
# impossible in sane text (A-circumflex / a-circumflex followed by a
# latin-1 punctuation char), so false positives are negligible. General
# repair (ftfy) needs encode/decode round-trips -- at corpus scale this
# literal table covers the overwhelming bulk (latin-1 page mislabels)
# with pure codegen replace chains, no Python.
MOJIBAKE_MAP: tuple[tuple[str, str], ...] = (
    ("â€™", "’"),  # right single quote
    ("â€œ", "“"),  # left double quote
    ("â€“", "–"),  # en dash
    ("â€”", "—"),  # em dash
    ("Ã¡", "á"),  # a acute
    ("Ã©", "é"),  # e acute
    ("Ã­", "í"),  # i acute
    ("Ã³", "ó"),  # o acute
    ("Ãº", "ú"),  # u acute
    ("Ã±", "ñ"),  # n tilde
    ("Ã§", "ç"),  # c cedilla
    ("Ã£", "ã"),  # a tilde
    ("Ãµ", "õ"),  # o tilde
    ("Ã¢", "â"),  # a circumflex
    ("Ãª", "ê"),  # e circumflex
    ("Ã´", "ô"),  # o circumflex
    ("Ã¼", "ü"),  # u umlaut
    ("Ã¨", "è"),  # e grave
    ("Â°", "°"),  # degree sign
    ("Â·", "·"),  # middle dot
    ("Â ", " "),          # stray NBSP marker -> space
)


def repair_mojibake_col(col) -> Column:
    """Chained literal ``replace`` repairing the MOJIBAKE_MAP table --
    pure JVM codegen (StringReplace nodes fold into one whole-stage
    span), order = table order (trigraphs first). NFC-safe: outputs are
    precomposed codepoints."""
    out = col
    for bad, good in MOJIBAKE_MAP:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def with_repaired_text(df):
    """Adds ``repaired_text`` plus ``n_repairs`` = how many table hits were
    rewritten, computed exactly from length deltas: every mapping
    shrinks the string by (len(bad) - len(good)) chars, so differencing
    lengths across each sequential replace step and dividing by that
    entry's shrink counts hits exactly -- shuffle-free arithmetic, no
    second scan, no regex count. The optimizer CSEs the shared chain
    prefixes so this stays one projection."""
    c = F.col("text")
    repaired = repair_mojibake_col(c)
    n = F.lit(0)
    prev = c
    for bad, good in MOJIBAKE_MAP:
        step = F.replace(prev, F.lit(bad), F.lit(good))
        shrink = len(bad) - len(good)
        if shrink > 0:
            n = n + (F.length(prev) - F.length(step)) / F.lit(shrink)
        prev = step
    return df.withColumn("repaired_text", repaired).withColumn(
        "n_repairs", n.cast("long")
    )


# --- Unicode NFKC normalization (compat folding; Arrow-batched) -------------

def _nfkc_batch(texts):
    import unicodedata

    import pandas as pd

    return pd.Series(
        [
            unicodedata.normalize("NFKC", t) if t is not None else None
            for t in texts
        ]
    )


def nfkc_udf():
    """Pandas UDF computing Unicode NFKC — lazy-built like nfc_udf."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    return pandas_udf(_nfkc_batch, StringType())


def with_nfkc_text(df):
    """Adds ``nfkc_text`` = NFKC(text) plus ``nfkc_changed`` —
    COMPATIBILITY normalization on top of NFC's canonical folding:
    ligatures decompose (ﬁ→fi), fullwidth forms fold (Ａ４２→A42),
    superscripts/roman numerals/circled digits reduce to plain
    characters. This is the tokenizer-facing variant (Hugging Face
    tokenizer pipelines normalize NFKC by default) — canonical-only
    NFC leaves ﬁle ≠ file and splits token statistics across
    presentation forms, while NFKC is intentionally LOSSY (q101's
    dedup keys stay on NFC; NFKC feeds tokenization and matching).
    Same Arrow-batched stdlib unicodedata regime as NFC."""
    c = F.col("text")
    out = df.withColumn("nfkc_text", nfkc_udf()(c))
    return out.withColumn("nfkc_changed", F.col("nfkc_text") != c)


# --- line-break de-hyphenation (PDF/columnar text repair) -------------------

def dehyphenate_col(text_col):
    """Repair HYPHENATED LINE BREAKS in extracted PDF/columnar text:
    ``extrac-\\n tion`` → ``extraction`` — the standard postprocessing
    step after layout extraction (htmlx/pdfx.py): justified print
    text hyphenates at column edges, and skipping the repair splits
    every broken word into two junk tokens, corrupting TF, LM and
    dedup statistics downstream. Rule (conservative, the
    pdfminer/Grobid convention): a lowercase letter, a hyphen,
    optional spaces, a NEWLINE, optional spaces, a lowercase letter →
    join with no hyphen; every other newline becomes a single space
    (soft wrap), then runs of spaces collapse. Hyphens NOT at line
    ends (``state-of-the-art``) are untouched. Three codegen
    regexp_replace ops — zero Python, zero shuffle."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    joined = F.regexp_replace(
        c, r"(\p{Ll})-[ \t]*\n[ \t]*(\p{Ll})", "$1$2"
    )
    unwrapped = F.regexp_replace(joined, r"[ \t]*\n[ \t]*", " ")
    return F.regexp_replace(unwrapped, r" {2,}", " ")


def canonical_dedup_key(df):
    """CANONICAL DEDUP-KEY pipeline — the composition every exact-
    dedup pass (q16) should key on instead of raw bytes:
    de-hyphenate line breaks (column-wrapped words rejoin,
    :func:`dehyphenate_col`) → strip control/zero-width junk +
    collapse whitespace (:func:`normalize_text_col`) → Unicode NFC
    (combining marks fold, :func:`nfc_udf`) → lowercase. Two
    renderings of ONE document — different wrap points, different
    accent encoding, a stray BOM, case-mapped navigation — collapse
    to one key; NFKC is deliberately NOT applied (it is lossy — q337
    keeps it tokenizer-side). Adds ``dedup_key`` and its md5
    ``dedup_md5`` (the groupBy key at corpus scale).

    Plan: codegen regexp chain → one ArrowEvalPython (NFC) → codegen
    lower/md5 — the extractor's zero-shuffle shape."""
    c = F.col("text")
    staged = normalize_text_col(dehyphenate_col(c))
    keyed = F.lower(nfc_udf()(staged))
    return df.withColumn("dedup_key", keyed).withColumn(
        "dedup_md5", F.md5(F.col("dedup_key"))
    )
