"""The plan-metrics reader on a tiny extract + TF plan."""

import json
import os

import pytest

from perfbench import planmetrics, run, workloads

N_PAGES = 24


@pytest.fixture(scope="module")
def docs_path(work):
    pages = workloads.generate("small_pages", 3)[:N_PAGES]
    path = os.path.join(work, "planmetrics_docs")
    workloads.write_docs(pages, path)
    return path


def _tf_query(spark, path):
    from tribeca_insights_spark.operators.extract import extract_pages
    from tribeca_insights_spark.operators.tf import corpus_tf

    ex = extract_pages(spark.read.parquet(path)).select("url", "tokens_str")
    return corpus_tf(ex, n_salts=2).limit(5)


def test_metrics_found_through_aqe_query_stages(spark, docs_path):
    q = _tf_query(spark, docs_path)
    q.collect()
    root = q._jdf.queryExecution().executedPlan()
    assert root.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    pm = planmetrics.PlanMetrics()
    pm.add_plan(root)
    classes = {op.cls for op in pm.ops}
    assert {"FileSourceScanExec", "ArrowEvalPythonExec",
            "ShuffleExchangeExec", "HashAggregateExec"} <= classes
    assert pm.total("ArrowEvalPythonExec", "pythonNumRowsReceived") == N_PAGES
    assert pm.total("ArrowEvalPythonExec", "pythonDataSent") > 0
    assert pm.total("ArrowEvalPythonExec", "pythonDataReceived") > 0
    assert pm.total("ShuffleExchangeExec", "shuffleRecordsWritten") > 0
    assert pm.total("ShuffleExchangeExec", "shuffleBytesWritten") > 0
    assert pm.total("FileSourceScanExec", "numOutputRows") == N_PAGES
    # the map-side partial aggregate sits above the token explode
    assert any(op.above_generate for op in pm.ops
               if op.cls == "HashAggregateExec")
    layers = run.plan_layers(pm, docs_path)
    assert layers["scan.rows"] == N_PAGES
    assert layers["extract.rows"] == N_PAGES
    assert 0 < layers["tf.partial_reduction"] <= 1


def test_plan_read_twice_counts_once(spark, docs_path):
    q = _tf_query(spark, docs_path)
    q.collect()
    pm = planmetrics.PlanMetrics()
    pm.add_plan(q._jdf.queryExecution().executedPlan())
    pm.add_plan(q._jdf.queryExecution().executedPlan())
    assert pm.total("ArrowEvalPythonExec", "pythonNumRowsReceived") == N_PAGES


def test_listener_sees_cached_relation_once(spark, docs_path):
    from pyspark.sql import functions as F

    from tribeca_insights_spark.operators.extract import extract_pages

    listener = planmetrics.attach(spark)
    planmetrics.collect(spark, listener)
    ex = extract_pages(spark.read.parquet(docs_path)).select(
        "url", "page_hash").persist()
    try:
        ex.agg(F.count("*")).collect()
        ex.groupBy("page_hash").count().collect()
    finally:
        ex.unpersist()
    pm = planmetrics.collect(spark, listener)
    # both actions read the cached extraction; the UDF ran once
    assert pm.total("ArrowEvalPythonExec", "pythonNumRowsReceived") == N_PAGES
    assert pm.total("ShuffleExchangeExec", "shuffleRecordsWritten") > 0


def test_benchmark_json_matches_declared_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
