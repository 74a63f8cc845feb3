#!/usr/bin/env python
"""sf1 scale soak (r4 verdict #1): re-run the extraction headline and the
slowest registry queries at sf0.1 (driver data) vs sf1 (10x, synthesized by
scripts/gen_sf.py) and record per-query growth factors in BENCH_sf1.md.

Methodology mirrors bench.py: `fn(spark, sf_dir).limit(10000).collect()`
per query (bounded driver transfer), best-of-N walls, one local[32]
session per SF level (fresh JVM between levels so caches can't leak
across), quiet-daemon stderr routing. A watchdog cancels any query
exceeding --timeout seconds (recorded as TIMEOUT, soak continues).

Growth grading: input grows 10x, so a healthy linear-ish operator lands
near 10x (shuffle-bound ops often BELOW 10x — fixed JVM/plan overheads
amortize); the verdict's threshold is ~10x*log = worse than ~13x needs a
plan fix or a documented cutover.

Usage: python scripts/soak_sf1.py [--timeout 600] [--repeats 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# top-22 slowest registry queries of the r4 driver bench (BENCH_QUERIES.json
# @ cc80247, sf0.1) — the soak targets named in VERDICT.md plus the rest of
# the top of that table
TOP_QUERIES = [
    "q129_prefix_jaccard_join", "q140_edit_distance_neardup",
    "q151_containment_join", "q115_semdedup", "q211_stream_dedup_gate",
    "q175_minhash_vs_exact", "q120_stream_stream_join",
    "q30_pipeline_run_metrics", "q185_simhash_calibration",
    "q203_cdc_snapshot_novelty", "q18_lsh_candidate_pairs",
    "q170_dedup_agreement", "q21_simhash_near_pairs",
    "q66_reconcile_lost_outputs", "q17_minhash_bands", "q127_hits_scores",
    "q03_corpus_tf", "q106_incremental_dedup", "q165_textrank",
    "q107_image_neardup_pairs", "q149_dedup_eval", "q102_stream_windowed_tf",
]

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "out", "testdata_sf1")


def _timed(spark, fn, sf_dir, timeout: float):
    """Run one query with a cancel watchdog; returns wall sec or None."""
    result: dict = {}

    def run():
        t0 = time.time()
        try:
            fn(spark, sf_dir).limit(10000).collect()
            result["wall"] = time.time() - t0
        except Exception as exc:
            result["err"] = str(exc)[:200]

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    if t.is_alive():
        spark.sparkContext.cancelAllJobs()
        t.join(30)
        return None
    if "err" in result:
        print(f"    ERR: {result['err']}", file=sys.stderr)
        return None
    return result["wall"]


def soak_level(sf_dir: str, timeout: float, repeats: int,
               extract_reps: int) -> dict:
    import bench
    from tribeca_insights_spark import entry_queries as EQ
    from tribeca_insights_spark.session import get_spark

    spark = get_spark(
        app_name=f"soak-{os.path.basename(sf_dir)}", master="local[32]",
        shuffle_partitions=32, arrow_batch_rows=4096,
        extra_conf={"spark.locality.wait": "0",
                    "spark.ui.showConsoleProgress": "false",
                    **bench._quiet_daemon_conf()},
    )
    bench._warm_python_workers(spark, 32)
    out: dict = {}

    # extraction headline (extract+TF, REPS-replicated pages)
    docs = bench._replicated_docs(spark, sf_dir, extract_reps).repartition(128)
    n, walls = bench._extract_tf_job(spark, docs, full=True, repeats=repeats)
    out["extract_tf_full"] = {"wall": min(walls), "docs": n,
                              "docs_per_sec": round(n / min(walls), 1)}
    print(f"  extract_tf_full: {min(walls):.2f}s over {n} docs "
          f"({n/min(walls):,.0f} docs/s)", file=sys.stderr)

    for name in TOP_QUERIES:
        fn = EQ.QUERIES[name]
        walls = []
        for _ in range(repeats):
            w = _timed(spark, fn, sf_dir, timeout)
            if w is None:
                walls = None
                break
            walls.append(w)
        out[name] = ({"wall": min(walls)} if walls
                     else {"wall": None, "timeout": timeout})
        shown = f"{min(walls):.2f}s" if walls else f"TIMEOUT>{timeout}s"
        print(f"  {name}: {shown}", file=sys.stderr)

    for sq in spark.streams.active:
        try:
            sq.stop()
        except Exception:
            pass
    time.sleep(1.0)
    spark.stop()
    time.sleep(0.5)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--timeout", type=float, default=600.0)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--level", choices=["sf0.1", "sf1", "both"],
                    default="both")
    args = ap.parse_args()

    results = {}
    levels = {"sf0.1": (SF01, 256), "sf1": (SF1, 256)}
    wanted = ["sf0.1", "sf1"] if args.level == "both" else [args.level]
    for lvl in wanted:
        sf_dir, reps = levels[lvl]
        print(f"== level {lvl} ({sf_dir}) ==", file=sys.stderr)
        results[lvl] = soak_level(sf_dir, args.timeout, args.repeats, reps)
        with open(os.path.join(REPO, f"soak_{lvl.replace('.', '')}.json"),
                  "w") as fh:
            json.dump(results[lvl], fh, indent=1)
    print(json.dumps({"done": wanted}))


if __name__ == "__main__":
    main()
