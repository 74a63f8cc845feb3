"""PII redaction for webtext training-data pipelines.

Beyond-reference capability (task brief): the standard pre-training
cleaning stage that masks personally identifiable substrings (emails,
IPv4 addresses, US-style phone numbers) before a corpus is released or
trained on — the same shape as the regex redaction passes in public
pipelines such as Dolma and BigScience ROOTS.

Everything here is JVM-side ``regexp_replace`` / ``regexp_extract_all``
over built-in functions: a narrow, shuffle-free transformation that
whole-stage-codegens into the scan projection. At 100 TB the stage is
embarrassingly parallel — no Python, no state, no exchange.

Pattern-dialect note: the patterns below restrict themselves to syntax
with identical semantics in Java regex (Spark) and RE2 (DuckDB oracles):
character classes, bounded repetition, ``\\b`` word boundaries — no
lookaround, no backreferences. This keeps every query over this operator
strictly oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Order matters and is part of the contract: emails first (their local
# part may contain digits that would otherwise phone-match), then IPs
# (4 dotted octets beat the looser 3-3-4 phone shape), then phones.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"

EMAIL_TOKEN = "<EMAIL>"
IPV4_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"


def redact_pii(df: DataFrame) -> DataFrame:
    """Mask emails / IPv4s / phone numbers; count each on the raw text.

    Adds four columns: ``redacted_text`` (the masked text, replacements applied
    email → ip → phone) and ``n_emails`` / ``n_ips`` / ``n_phones``
    (match counts on the ORIGINAL text, so the counts are independent of
    replacement order). Counts are ints, the masked text is a pure
    function of the input — both engines of an oracle pair agree exactly.
    """
    t = F.col("text")
    masked = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, EMAIL_TOKEN),
            IPV4_RE, IPV4_TOKEN,
        ),
        PHONE_RE, PHONE_TOKEN,
    )
    return df.withColumns(
        {
            "redacted_text": masked,
            "n_emails": F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)),
            "n_ips": F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), 0)),
            "n_phones": F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0)),
        }
    )


def pii_density(df: DataFrame) -> DataFrame:
    """Per-group PII density report over :func:`redact_pii`'s counts:
    (group, n_docs, n_docs_with_pii, n_emails, n_ips, n_phones,
    pii_per_mchar) — matches per MILLION characters, the unit release
    audits use (Dolma/ROOTS-style): a source whose density is 100×
    the corpus median is a people-directory or paste-site shard that
    wants source-level handling before any per-doc masking runs.

    Shape: the counting projection is redact_pii's shuffle-free
    codegen scan; the rollup is group-sized. All-integer output
    (density = 1e6·total_matches div total_chars).
    """
    counted = redact_pii(df)
    agg = counted.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            (
                (F.col("n_emails") + F.col("n_ips") + F.col("n_phones"))
                > 0
            ).cast("long")
        ).cast("bigint").alias("n_docs_with_pii"),
        F.sum("n_emails").cast("bigint").alias("n_emails"),
        F.sum("n_ips").cast("bigint").alias("n_ips"),
        F.sum("n_phones").cast("bigint").alias("n_phones"),
        F.sum(F.length("text")).cast("bigint").alias("_chars"),
    )
    return agg.select(
        "source", "n_docs", "n_docs_with_pii",
        "n_emails", "n_ips", "n_phones",
        F.expr(
            "(n_emails + n_ips + n_phones) * 1000000L div _chars"
        ).alias("pii_per_mchar"),
    )


def pii_pseudonyms(df: DataFrame, salt: str) -> DataFrame:
    """Keyed PII pseudonymization relation: every detected email
    becomes a stable salted-hash pseudonym ``(id, kind, pseudonym)``
    — the privacy-pipeline upgrade over plain redaction (q71): the
    SAME address maps to the SAME pseudonym corpus-wide (user-level
    joins and dedup still work on the pseudonym key) while the raw
    identifier never leaves this projection. The salt is the secret:
    rotate it and every pseudonym rotates, which is exactly the
    re-identification kill-switch GDPR-style pipelines want.

    sha2 in codegen; one explode of per-doc matches. Pair with
    ``redact_pii`` on the text itself — this relation carries the
    linkage the redacted text loses."""
    t = F.col("text").cast("string")
    return df.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)
        ).alias("_m"),
    ).select(
        "doc_id",
        F.lit("email").alias("kind"),
        F.sha2(F.concat(F.lit(salt), F.lower(F.col("_m"))), 256)
        .alias("pseudonym"),
    ).dropDuplicates(["doc_id", "kind", "pseudonym"])
