#!/usr/bin/env python
"""spark-submit entry point for the extraction+TF pipeline (north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

Self-contained driver script: all engine code arrives via
``--py-files tribeca_insights_spark.zip`` (no repo checkout on executors —
exactly how a real cluster submit ships the package).

Usage (sandbox stand-in for an N-executor cluster = local[N]):

    python -m zipfile -c /tmp/tis.zip tribeca_insights_spark
    spark-submit --master local[8] --py-files /tmp/tis.zip \
        scripts/submit_extract.py \
        --sf-dir /root/testdata/sf0.01 --reps 32 --out /tmp/extract_out

Prints ONE JSON line: {"docs": N, "wall_sec": s, "docs_per_sec": r, ...}.
The same job at two --master parallelism levels is the scaling-efficiency
evidence recorded in BASELINE.md.
"""

import argparse
import json
import time

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--reps", type=int, default=1,
                    help="replicate the synthesized corpus ×reps")
    ap.add_argument("--out", default="", help="parquet output dir (optional)")
    ap.add_argument("--mode", choices=["full", "tf"], default="full",
                    help="full page_data extraction, or TF-only fast path")
    ap.add_argument("--repeats", type=int, default=1,
                    help="time the job N times, report best wall (noisy-"
                         "neighbor robustness)")
    args = ap.parse_args()

    # Session comes from spark-submit's conf (--master, executors); only
    # set the engine-required knobs here.
    spark = (
        SparkSession.builder.appName("tribeca-insights-extract")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    cores = spark.sparkContext.defaultParallelism

    from tribeca_insights_spark.entry_queries import documents_as_pages
    from tribeca_insights_spark.operators import tf as tfops
    from tribeca_insights_spark.operators.extract import (
        extract_pages,
        extract_token_strings,
    )

    docs = documents_as_pages(spark, args.sf_dir).drop("doc_id")
    if args.reps > 1:
        rep = spark.range(args.reps).select(F.col("id").alias("rep"))
        docs = (
            docs.crossJoin(rep)
            .withColumn("url", F.concat("url", F.lit("?rep="), F.col("rep")))
            .drop("rep")
        )
    docs = docs.repartition(cores * 4).cache()
    n = docs.count()

    # warm pass: spawn Python workers, compile codegen, JIT the UDF path —
    # so the timed window measures steady-state throughput, not startup
    warm = extract_token_strings(docs.limit(cores * 64))
    tfops.corpus_tf(warm).limit(5).collect()

    wall = float("inf")
    top = []
    for _ in range(max(1, args.repeats)):
        t0 = time.time()
        if args.mode == "full":
            ex = extract_pages(docs)
            if args.out:
                ex.write.mode("overwrite").parquet(args.out)
                top = []
            else:
                top = tfops.corpus_tf(ex).limit(20).collect()
        else:
            ex = extract_token_strings(docs)
            top = tfops.corpus_tf(ex).limit(20).collect()
        wall = min(wall, time.time() - t0)

    print(
        json.dumps(
            {
                "mode": args.mode,
                "cores": cores,
                "docs": n,
                "wall_sec": round(wall, 3),
                "docs_per_sec": round(n / wall, 1),
                "top_words": [r["word"] for r in top[:5]],
                "out": args.out or None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
