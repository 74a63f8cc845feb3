"""JSONL ingestion hygiene: tolerant parse + schema-drift audit.

Web-scale corpora arrive as JSONL exports (CC-NEWS derivatives, API
dumps, internal crawl logs) whose producers drift: fields disappear,
new fields appear, whole lines corrupt. Spark's PERMISSIVE mode
already gives tolerant row-level parsing; what pipelines additionally
need is the AUDIT — per ingest batch, how present is each expected
field and how many lines failed to parse at all — because a silent
90%→40% drop in a field's presence is a producer regression that
poisons everything downstream while every job still "succeeds".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

CORRUPT_FIELD = "_corrupt"


def parse_jsonl(df: DataFrame, json_col: str, schema_ddl: str,
                out_col: str = "rec"):
    """Tolerant JSONL parse: ``out_col`` = struct of ``schema_ddl``
    fields plus ``_corrupt`` carrying the raw line when the JSON was
    malformed (Spark PERMISSIVE semantics). Pure JVM Jackson — no
    Python."""
    full = schema_ddl + f", {CORRUPT_FIELD} string"
    return df.withColumn(
        out_col,
        F.from_json(
            F.col(json_col), full,
            {"mode": "PERMISSIVE",
             "columnNameOfCorruptRecord": CORRUPT_FIELD},
        ),
    )


def json_schema_audit(df: DataFrame, json_col: str, schema_ddl: str) -> DataFrame:
    """Per-batch SCHEMA-DRIFT audit: ``(batch_id, field, n_rows,
    n_present, present_micros)`` — one row per expected field plus a
    ``_corrupt`` row counting unparseable lines. The monitoring
    relation an ingest job emits next to its data: presence-rate
    deltas between batches are the drift alarm.

    Shape: one JVM from_json per line + a per-row explode over the
    (tiny, schema-sized) field list + ONE map-combined groupBy on
    (batch, field) — field cardinality is the schema's, so the agg
    output is batches × fields regardless of corpus size."""
    # parse the DDL properly — naive split(',') yields garbage field
    # names for parameterized or nested types (decimal(10,2),
    # array<...>, map<k,v>, struct<...>) and the audit breaks at
    # analysis when getField probes a nonexistent name
    from pyspark.sql.types import StructType

    fields = StructType.fromDDL(schema_ddl).fieldNames()
    parsed = parse_jsonl(df, json_col, schema_ddl, out_col="_p")
    probes = [
        F.struct(
            F.lit(f).alias("field"),
            F.when(F.col("_p").getField(f).isNotNull(), 1)
            .otherwise(0).alias("present"),
        )
        for f in fields
    ] + [
        F.struct(
            F.lit(CORRUPT_FIELD).alias("field"),
            F.when(
                F.col("_p").getField(CORRUPT_FIELD).isNotNull(), 1
            ).otherwise(0).alias("present"),
        )
    ]
    rows = parsed.select(
        F.col("batch_id"),
        F.explode(F.array(*probes)).alias("_f"),
    )
    return (
        rows.groupBy("batch_id", F.col("_f.field").alias("field"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("_f.present").cast("bigint").alias("n_present"),
        )
        .select(
            "batch_id", "field", "n_rows", "n_present",
            F.expr("1000000L * n_present div n_rows")
            .alias("present_micros"),
        )
    )
