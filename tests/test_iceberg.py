"""Iceberg state/output layer: DDL/MERGE builders always; the live
create→run→resume cycle when an Iceberg runtime jar is on the classpath
(the sandbox image ships none — the test documents and skips)."""

import pytest

from tribeca_insights_spark.plans import iceberg as ib
from tribeca_insights_spark.plans.pipeline import EXTRACT_OUT_SCHEMA


def test_catalog_conf_shape():
    conf = ib.catalog_conf("/tmp/wh")
    assert conf["spark.sql.catalog.ti"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.ti.type"] == "hadoop"
    assert conf["spark.sql.catalog.ti.warehouse"] == "/tmp/wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]
    args = ib.catalog_conf_args("/tmp/wh")
    assert args.count("--conf ") == 4


def test_ddl_and_merge_builders():
    stmts = ib.ddl_statements("web", n_buckets=32)
    assert stmts[0].startswith("CREATE NAMESPACE IF NOT EXISTS ti.web")
    assert "PARTITIONED BY (bucket)" in stmts[1]
    assert "bucket(32, url)" in stmts[2]  # log partitioned by url hash-bucket
    assert "USING iceberg" in stmts[3]

    # the output table is exactly what the extraction writes, plus run_id
    body = stmts[1].split("(", 1)[1].rsplit(") USING", 1)[0]
    cols, depth, cur = [], 0, ""
    for ch in body:
        depth += (ch == "<") - (ch == ">")
        if ch == "," and depth == 0:
            cols.append(cur.strip())
            cur = ""
        else:
            cur += ch
    cols.append(cur.strip())
    want = [f"{f.name} {f.dataType.simpleString()}"
            for f in EXTRACT_OUT_SCHEMA.fields] + ["run_id string"]
    assert [" ".join(c.split()) for c in cols] == want

    merge = ib.merge_log_sql("web", "src_view")
    assert "MERGE INTO ti.web.extract_log t" in merge
    assert "USING src_view s" in merge
    assert "ON t.url = s.url" in merge
    assert "WHEN MATCHED THEN UPDATE SET" in merge
    assert "WHEN NOT MATCHED THEN INSERT *" in merge


def test_unavailable_raises_with_recipe(spark):
    if ib.iceberg_available(spark):
        pytest.skip("Iceberg present — covered by test_live_cycle")
    with pytest.raises(ib.IcebergUnavailable) as ei:
        ib.ensure_tables(spark, "web")
    assert "--packages org.apache.iceberg" in str(ei.value)


def test_live_cycle(spark, tmp_path):
    """Full Iceberg path: tables → run → MERGE’d log → idempotent resume.
    Requires iceberg-spark-runtime on the classpath + catalog conf."""
    if not ib.iceberg_available(spark):
        pytest.skip(
            "no iceberg-spark-runtime jar found (session.find_iceberg_jar "
            "probed $ICEBERG_SPARK_JAR, $SPARK_HOME/jars, pyspark jars/, "
            "/opt//usr/local spark dirs) — on any jar-present host this "
            "test runs automatically: get_spark() wires spark.jars + the "
            "`ti` catalog itself. Builders verified: DDL/MERGE builders "
            "unit-tested above; the live cycle exercises ensure_tables → "
            "run_extraction_iceberg → MERGE'd log → idempotent resume."
        )
    from tribeca_insights_spark.fixtures import corpus_df

    docs = corpus_df(spark, 20)
    s1 = ib.run_extraction_iceberg(spark, docs, "webtest", n_buckets=8)
    assert s1["n_processed"] == 20
    s2 = ib.run_extraction_iceberg(spark, docs, "webtest", n_buckets=8)
    assert s2["n_processed"] == 0  # MERGE’d log marks all done
    log = spark.table("ti.webtest.extract_log")
    assert log.count() == 20  # one row per url — no duplicates, ever
