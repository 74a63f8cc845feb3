"""CLI — the reference's command surface re-expressed over Spark.

Reference (``tribeca_insights/cli.py:29-96``, console script
``tribeca-insights``):

* ``crawl --slug S --base-url U --language L --max-pages N [--playwright]``
* ``export --slug S --format {csv,json,markdown}``

Here fetching is out of scope (input_hint: the docs table already carries
``html``), so ``crawl`` maps to: read the pages table → resumable
checkpointed extraction (anti-join vs the project's done-log, limit
``--max-pages`` pending rows, reference crawler.py:215 semantics) → write
the extracted table → optionally emit the reference's full on-disk report
tree. ``export`` re-derives artifacts from an existing project folder
exactly like the reference's export dispatch (exporters/__init__.py:6-22).

Usage:
    python -m tribeca_insights_spark crawl --input /data/docs.parquet \
        --project-dir ./proj --slug my-site --max-pages 1000 --reports
    python -m tribeca_insights_spark export --project-dir ./proj \
        --slug my-site --format csv
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    return get_spark(
        app_name=f"tribeca-insights-{args.cmd}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_crawl(args) -> int:
    from pyspark.sql import functions as F

    from .operators.sinks import write_project_tree
    from .plans import state as st
    from .plans.pipeline import run_extraction

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if args.language:
        docs = docs.withColumn("lang", F.lit(args.language))
    if args.max_pages:
        # reference work-queue limit (crawler.py:215): at most N pending
        # pages per run; the checkpoint log carries the rest to later runs
        pending = st.pending(docs, spark, args.project_dir).limit(args.max_pages)
        docs = pending
    stats = run_extraction(
        spark, docs, args.project_dir, n_buckets=args.buckets
    )
    if args.reports:
        done = spark.read.parquet(f"{args.project_dir}/extracted")
        # report tree renders from the raw pages of this project's universe
        src = spark.read.parquet(args.input).join(
            done.select("url").distinct(), "url", "left_semi"
        )
        if args.language:
            src = src.withColumn("lang", F.lit(args.language))
        tree = write_project_tree(
            src,
            args.project_dir,
            args.slug,
            base_url=args.base_url,
            language=args.language or "en",
            max_pages=args.max_pages or 0,
        )
        stats.update(tree)
    print(json.dumps(stats))
    spark.stop()
    return 0


def cmd_export(args) -> int:
    """Re-derive artifacts from pages_json — reference export dispatch
    (exporters/__init__.py:6-22; csv.py:86-105; json.py:124-147;
    markdown.py:157-167). File-level by nature → driver-side; at scale
    these are queries over the extracted table instead."""
    import glob
    import os
    from collections import Counter

    from .functions.tokenize import clean_and_tokenize

    pages_dir = os.path.join(args.project_dir, "pages_json")
    files = sorted(glob.glob(os.path.join(pages_dir, "*.json")))
    pages = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            pages.append(json.load(fh))

    if args.format == "json":
        out = os.path.join(args.project_dir, f"combined_{args.slug}.json")
        with open(out, "w", encoding="utf-8") as f:
            json.dump(pages, f, ensure_ascii=False, indent=2)
        print(json.dumps({"exported": out, "n_pages": len(pages)}))
    elif args.format == "csv":
        # csv.py:86-105: concat page word_frequency (equivalent to re-
        # tokenizing the concatenated text — SURVEY §R4 distributivity)
        freq: Counter = Counter()
        for p in pages:
            wf = p.get("word_frequency")
            if wf is None:
                wf = Counter(clean_and_tokenize(p.get("text", ""), "en"))
            freq.update(wf)
        out = os.path.join(
            args.project_dir, f"keyword_frequency_{args.slug}.csv"
        )
        with open(out, "w", encoding="utf-8") as f:
            f.write("word,freq\n")
            for w, n in sorted(freq.items(), key=lambda kv: -kv[1]):
                f.write(f"{w},{n}\n")
        print(json.dumps({"exported": out, "n_words": len(freq)}))
    else:  # markdown: regenerate index over pages_md*
        lines = ["# Analyzed Pages Index", ""]
        for p in sorted(pages, key=lambda p: p["slug"]):
            title = p["slug"].replace("-", " ").title()
            lines.append(f"- [{title}](pages_md/{p['slug']}.md)")
        out = os.path.join(args.project_dir, "index.md")
        with open(out, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        print(json.dumps({"exported": out, "n_pages": len(pages)}))
    return 0


def cmd_report(args) -> int:
    """Analytical reports over the extracted table (north_star: per-domain
    keyword reports, document frequency, link counts) — written as CSVs
    under <project-dir>/reports/."""
    import os

    from pyspark.sql import Observation, functions as F

    from .operators import tf as tfops

    spark = _spark(args)
    ex = spark.read.parquet(f"{args.project_dir}/extracted")
    out_dir = os.path.join(args.project_dir, "reports")
    os.makedirs(out_dir, exist_ok=True)
    # limit()-bounded frames may come to the driver (≤ --top rows);
    # everything O(n_docs) / O(n_domains) is written executor-side as a
    # distributed CSV directory — the driver never holds those rows.
    bounded = {
        "corpus_tf": tfops.corpus_tf(ex).limit(args.top),
        "doc_frequency": tfops.doc_frequency(ex).limit(args.top),
    }
    unbounded = {
        "domain_top_keywords": tfops.domain_top_keywords(ex, k=10),
        "link_counts": tfops.link_counts(ex),
        "index": tfops.index_entries(ex),
    }
    stats = {}
    for name, df in bounded.items():
        pdf = df.toPandas()
        pdf.to_csv(os.path.join(out_dir, f"{name}.csv"), index=False)
        stats[name] = len(pdf)
    for name, df in unbounded.items():
        path = os.path.join(out_dir, name)
        # observe() rides the write job itself: ONE pass per report — no
        # cache + second count() action (which at 100× scale re-computes
        # the whole report when the cache doesn't fit)
        obs = Observation(f"report_{name}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).option("header", True).csv(path)
        stats[name] = obs.get["rows"]
    print(json.dumps({"reports_dir": out_dir, "rows": stats}))
    spark.stop()
    return 0


def cmd_curate(args) -> int:
    """Training-data curation pass over a docs table: verdict gates →
    (optionally) exact-hash dedup keep-first → kept/dropped parquet plus
    a per-reason summary — the decision layer (q100) wired end-to-end.
    One pass: the verdict is per-row codegen; dedup adds one hash window.
    """
    import os

    from pyspark.sql import Window, functions as F

    from .operators.textstats import curation_verdict

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    v = curation_verdict(
        docs,
        min_words=args.min_words,
        max_words=args.max_words,
        min_alpha_ratio=args.min_alpha_ratio,
    )
    d = docs.join(v.select("doc_id", "keep", "reasons_csv"), "doc_id")
    if args.dedup:
        w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(
            "doc_id"
        )
        d = d.withColumn(
            "_dup_rank", F.row_number().over(w)
        ).withColumn(
            "keep", F.col("keep") & (F.col("_dup_rank") == 1)
        ).withColumn(
            "reasons_csv",
            F.when(
                F.col("_dup_rank") > 1,
                F.when(F.col("reasons_csv") == "", F.lit("duplicate"))
                .otherwise(F.concat_ws(",", "reasons_csv",
                                       F.lit("duplicate"))),
            ).otherwise(F.col("reasons_csv")),
        ).drop("_dup_rank")
    os.makedirs(args.out_dir, exist_ok=True)
    d.filter("keep").drop("keep", "reasons_csv").write.mode(
        "overwrite"
    ).parquet(os.path.join(args.out_dir, "kept"))
    d.filter("NOT keep").write.mode("overwrite").parquet(
        os.path.join(args.out_dir, "dropped")
    )
    summary = {
        r["reasons_csv"] or "kept": r["n"]
        for r in d.groupBy("reasons_csv")
        .agg(F.count("*").alias("n"))
        .collect()  # bounded: one row per distinct reason combination
    }
    print(json.dumps({"out_dir": args.out_dir, "by_reason": summary}))
    spark.stop()
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="tribeca_insights_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="resumable extraction run over a docs table")
    c.add_argument("--input", required=True, help="docs parquet path")
    c.add_argument("--project-dir", required=True)
    c.add_argument("--slug", default="project")
    c.add_argument("--base-url", default="")
    c.add_argument("--language", default="", help="override the lang column")
    c.add_argument("--max-pages", type=int, default=0)
    c.add_argument("--buckets", type=int, default=64)
    c.add_argument("--reports", action="store_true",
                   help="emit the reference on-disk report tree")
    c.add_argument("--master", default=None)
    c.add_argument("--shuffle-partitions", type=int, default=None)

    e = sub.add_parser("export", help="re-derive artifacts from pages_json")
    e.add_argument("--project-dir", required=True)
    e.add_argument("--slug", default="project")
    e.add_argument("--format", choices=["csv", "json", "markdown"],
                   required=True)

    r = sub.add_parser("report", help="analytical reports over the "
                                      "extracted table")
    r.add_argument("--project-dir", required=True)
    r.add_argument("--top", type=int, default=1000)
    r.add_argument("--master", default=None)
    r.add_argument("--shuffle-partitions", type=int, default=None)

    cu = sub.add_parser("curate", help="verdict-gated curation pass: "
                                       "kept/dropped parquet + summary")
    cu.add_argument("--input", required=True, help="docs parquet path")
    cu.add_argument("--out-dir", required=True)
    cu.add_argument("--min-words", type=int, default=5)
    cu.add_argument("--max-words", type=int, default=100_000)
    cu.add_argument("--min-alpha-ratio", type=float, default=0.6)
    cu.add_argument("--dedup", action="store_true",
                    help="also drop exact-hash duplicates (keep-first)")
    cu.add_argument("--master", default=None)
    cu.add_argument("--shuffle-partitions", type=int, default=None)

    args = ap.parse_args(argv)
    if args.cmd == "crawl":
        return cmd_crawl(args)
    if args.cmd == "report":
        return cmd_report(args)
    if args.cmd == "curate":
        return cmd_curate(args)
    return cmd_export(args)


if __name__ == "__main__":
    sys.exit(main())
