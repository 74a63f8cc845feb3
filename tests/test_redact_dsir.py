"""PII redaction + DSIR importance operators (LLM-pipeline extensions)."""

import math

from pyspark.sql import functions as F

from tribeca_insights_spark.operators.dsir import dsir_importance
from tribeca_insights_spark.operators.redact import redact_pii


def test_redact_pii_masks_and_counts(spark):
    rows = [
        (1, "mail a.b+c%d@sub.example.co.uk now"),
        (2, "ip 192.168.0.1 and phone 415-555-0042 mixed"),
        (3, "dotted phone 415.555.0042 stays distinct from ip"),
        (4, "no pii here at all"),
        (5, "two mails x@y.io z@w.dev one ip 8.8.8.8"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}

    assert got[1]["redacted_text"] == "mail <EMAIL> now"
    assert (got[1]["n_emails"], got[1]["n_ips"], got[1]["n_phones"]) == (1, 0, 0)
    assert got[2]["redacted_text"] == "ip <IP> and phone <PHONE> mixed"
    assert got[3]["redacted_text"] == "dotted phone <PHONE> stays distinct from ip"
    assert got[4]["redacted_text"] == "no pii here at all"
    assert (got[4]["n_emails"], got[4]["n_ips"], got[4]["n_phones"]) == (0, 0, 0)
    assert got[5]["redacted_text"] == "two mails <EMAIL> <EMAIL> one ip <IP>"
    assert got[5]["n_emails"] == 2 and got[5]["n_ips"] == 1


def test_redact_pii_order_email_before_phone(spark):
    # digits inside an email local part must not phone-match after masking
    df = spark.createDataFrame([(1, "x 415-555-0042@evil.com y")], ["i", "text"])
    r = redact_pii(df).collect()[0]
    assert r["redacted_text"] == "x <EMAIL> y"
    # counts run on the ORIGINAL text, so both patterns see their match
    assert r["n_emails"] == 1 and r["n_phones"] == 1


def test_redact_pii_plan_is_narrow(spark):
    df = spark.range(10).select(
        F.col("id"), F.lit("a@b.co 1.2.3.4").alias("text")
    )
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # shuffle-free narrow transform


def test_dsir_importance_separates_target_tokens(spark):
    # target docs say "alpha", raw-only docs say "omega"; a fresh doc made
    # of alpha-tokens must outscore one made of omega-tokens
    rows = (
        [(i, "alpha " * 20, "en") for i in range(10)]
        + [(100 + i, "omega " * 20, "xx") for i in range(10)]
        + [(900, "alpha alpha alpha", "xx"), (901, "omega omega omega", "xx")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {
        r["doc_id"]: r
        for r in dsir_importance(df, F.col("lang") == "en").collect()
    }
    assert out[900]["n_tokens"] == 3 and out[901]["n_tokens"] == 3
    assert out[900]["dsir_score_micros"] > out[901]["dsir_score_micros"]
    # closed form: per-token weight floor(1e6*llr) with B=1024 buckets
    t_alpha, r_alpha = 200, 203  # target/raw counts of the alpha bucket
    T, R = 200, 406
    w = math.floor(
        1e6
        * (
            math.log(t_alpha + 1)
            - math.log(T + 1024)
            - math.log(r_alpha + 1)
            + math.log(R + 1024)
        )
    )
    assert out[900]["dsir_score_micros"] == 3 * w


def test_dsir_importance_zero_token_docs_absent(spark):
    df = spark.createDataFrame(
        [(1, "real words here", "en"), (2, "12345 678", "en")],
        ["doc_id", "text", "lang"],
    )
    ids = {
        r["doc_id"]
        for r in dsir_importance(df, F.col("lang") == "en").collect()
    }
    assert ids == {1}  # doc 2 is all digits -> no tokens -> no row
