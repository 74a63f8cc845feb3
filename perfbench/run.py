#!/usr/bin/env python3
"""Repository benchmark: extract + term-frequency throughput, end to end and
per layer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload small_pages --seed 1 --seconds 10 --trace 0

Workloads (inputs generated from ``--seed``; see ``workloads.py``):

* ``small_pages`` — 0.5–2 KB pages: many rows, so per-row work (Arrow
  transfer, result encoding, links) is a large part of the Python UDF.
* ``crawl_pages`` — 20–100 KB pages: few rows; the UDF is mostly parse and
  tokenize per byte.

On both, the Python UDF and the TF aggregation each take a quarter to a
third of an iteration's wall, and the job's fixed cost (three actions, 13
stages) about half; a traced run reports the two shares as
``extract.wall_share`` and ``tf.agg_wall_share``.

Both run one job: ``extract_pages`` → salted ``corpus_tf`` top-50,
``domain_top_keywords`` top-10 and a (url, page_hash) digest, from one
extraction pass. A run generates the inputs, writes them to parquet and
builds the oracle (none of it timed), then sets up a ``local[N]`` session
``SETUP_CYCLES`` times (N = usable cores; ``setup_s`` is the median of all
but the first, which also launches the JVM), then
repeats the job for ``--seconds`` (and at least ``MIN_ITERS`` times),
checking every output against the oracle.

``--trace 1`` alternates traced and untraced iterations, reads per-layer
metrics from the executed plans, runs the resume probe
(``plans.pipeline.run_extraction`` over a root holding an earlier run) and
replays a page sample through the Python extraction layers in process.

Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. Lines before it give the
box, the human-readable figures and ``failed_op_ratio``. Scratch data lives
under ``.bench_work/`` and the full record of each run is written to
``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import threading
import time

import pandas as pd  # module level: pandas_udf resolves type hints here

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("small_pages", "crawl_pages")
SETUP_CYCLES = 4  # one JVM launch + three warm set-ups for the median
# The first timed iteration after the warm-up is often 10-30% slower than
# the ones after it; the median of three leaves it out.
MIN_ITERS = 3
# Input files of the untimed run of the whole job before the window: the
# first run of each plan in a JVM compiles it and is slower than the ones
# after, at any input size.
WARMUP_FILES = 5
MAX_WINDOW_S = 90  # stop repeating after this long, even short of MIN_ITERS
DRIVER_MEMORY = "2g"
REPLAY_BYTES = 2_000_000  # HTML bytes replayed in process per traced run

END_TO_END = {  # name -> unit
    "setup_s": "s", "docs_per_s": "1/s", "html_mb_per_s": "MB/s",
    "peak_rss_mb": "MB", "local_disk_mb": "MB",
}
# Per-layer metrics of a traced run.
PER_LAYER = {
    "session.start_s": "s", "session.worker_warm_s": "s",
    "scan.files": "count", "scan.bytes": "B", "scan.rows": "count",
    "scan.time_ms": "ms",
    "extract.rows": "count", "extract.python_boot_ms": "ms",
    "extract.python_init_ms": "ms", "extract.python_total_ms": "ms",
    "extract.python_ms_per_page": "ms", "extract.bytes_sent": "B",
    "extract.bytes_received": "B", "extract.recv_per_sent": "ratio",
    "htmlx.parse_us_per_page": "us", "htmlx.parse_us_per_kb": "us/KB",
    "htmlx.empty_text_share": "ratio",
    "tokenize.us_per_page": "us", "tokenize.tokens_per_page": "count",
    "extract.links_us_per_page": "us", "extract.batch_us_per_page": "us",
    "extract.encode_us_per_page": "us",
    "tf.shuffle_records": "count", "tf.shuffle_bytes": "B",
    "tf.shuffle_write_ms": "ms", "tf.fetch_wait_ms": "ms", "tf.agg_ms": "ms",
    "tf.spill_bytes": "B", "tf.peak_mem_bytes": "B",
    "tf.partial_reduction": "ratio",
    "state.reconcile_s": "s", "state.pending_s": "s",
    "state.pending_rows": "count", "state.done_rows": "count",
    "pipeline.run_s": "s", "pipeline.processed_rows": "count",
    "pipeline.output_bytes": "B", "pipeline.output_files": "count",
    "pipeline.partition_wall_ms_max": "ms",
    "pipeline.partition_wall_skew": "ratio",
    "pipeline.bytes_stored_per_input_byte": "ratio",
    "spark.stages_per_run": "count", "spark.tasks_per_run": "count",
    "extract.worker_tracebacks": "count", "jvm.heap_peak_mb": "MB",
    "extract.wall_share": "ratio", "tf.agg_wall_share": "ratio",
    "trace.docs_per_s_traced": "1/s", "trace.docs_per_s_untraced": "1/s",
    "trace.overhead_docs_per_s": "1/s",
}
UNITS = {**END_TO_END, **PER_LAYER}


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------- processes

def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and its live descendants, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [root_pid]
    while frontier:
        p = frontier.pop()
        if p in parent or p == root_pid:
            out.append(p)
            frontier += [c for c, pp in parent.items() if pp == p]
    return out


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak summed RSS of the JVM process tree (JVM + Python workers)."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root_pid, self.interval = root_pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _rss_bytes(_tree(self.root_pid)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ----------------------------------------------------------------- session

def configure_env(work: str, cores: int) -> None:
    """Keep every file the run writes inside ``work``; route Python worker
    stderr through ``quiet_daemon`` into a side log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # no /tmp/hsperfdata
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TRIBECA_DAEMON_STDERR": os.path.join(work, "worker_stderr.log"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    # any non-empty value turns benign worker flush failures into kills
    os.environ.pop("PYTHON_DAEMON_KILL_WORKER_ON_FLUSH_FAILURE", None)
    import tempfile

    tempfile.tempdir = None


def session_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.python.daemon.module": "tribeca_insights_spark.quiet_daemon",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def warm_workers(spark, cores: int) -> None:
    """Start and import-warm every Python worker."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        import tribeca_insights_spark.htmlx.extractor  # noqa: F401
        import tribeca_insights_spark.operators.extract  # noqa: F401

        return s.str.len()

    (spark.range(cores * 8).select(F.lit("warm").alias("s"))
     .repartition(cores).select(F.sum(_warm("s"))).collect())


# -------------------------------------------------------------------- jobs

class TfJob:
    """``extract_pages`` → salted ``corpus_tf`` top-50, ``domain_top_keywords``
    top-10 and a (url, page_hash) digest, from one extraction pass."""

    def __init__(self, workload: str, seed: int, work: str, cores: int):
        from perfbench import oracle, workloads

        self.work = work
        self.pages = workloads.generate(workload, seed)
        self.input = os.path.join(work, "input")
        self.html_bytes, self.files = workloads.write_docs(self.pages,
                                                           self.input)
        self.expected = oracle.build(self.pages, cores)
        self.n_salts = cores

    def run(self, spark, spans, paths=None, first_action_only=False):
        from pyspark.sql import functions as F

        from tribeca_insights_spark.operators.extract import extract_pages
        from tribeca_insights_spark.operators.tf import (
            corpus_tf,
            domain_top_keywords,
        )
        from perfbench.oracle import DIGEST_HEX, TOP_PER_DOMAIN, TOP_WORDS

        with spans.span("scan.read"):
            docs = spark.read.parquet(*(paths or [self.input]))
        ex = extract_pages(docs).select("url", "tokens_str", "page_hash")
        ex = ex.persist()
        term = F.conv(F.substring(F.sha2(F.concat_ws("\t", "url", "page_hash"),
                                         256), 1, DIGEST_HEX), 16, 10)
        try:
            with spans.span("action.digest"):
                n, s = ex.agg(F.count("*"), F.sum(term.cast("long"))).first()
            if first_action_only:
                return {}
            with spans.span("action.corpus_tf"):
                top = [(r["word"], r["freq"]) for r in
                       corpus_tf(ex, n_salts=self.n_salts).limit(TOP_WORDS)
                       .collect()]
            with spans.span("action.domain_top_keywords"):
                dom = sorted((r["domain"], r["word"], r["freq"]) for r in
                             domain_top_keywords(ex, k=TOP_PER_DOMAIN,
                                                 n_salts=self.n_salts)
                             .collect())
        finally:
            ex.unpersist()
        return {"digest": (n, s), "top_words": top, "domain_top": dom}

    def warm_first_plan(self, spark, spans):
        """Set-up: the job's first plan (extraction + digest), one file."""
        self.run(spark, spans, self.files[:1], first_action_only=True)

    def iteration(self, spark, spans, listener):
        from perfbench import planmetrics

        t0 = time.perf_counter()
        with spans.span("job"):
            out = self.run(spark, spans)
        wall = time.perf_counter() - t0
        e = self.expected
        problems = [k for k in ("digest", "top_words", "domain_top")
                    if tuple(out[k]) != tuple(e[k])]
        pm = planmetrics.collect(spark, listener)
        return wall, problems, pm


class ResumeProbe:
    """``plans.pipeline.run_extraction`` resuming from a root that holds a
    completed run: the done part is the first ``RESUME_DONE_FILES`` input
    files, the input adds the next file (a tenth as many new pages)."""

    def __init__(self, job: "TfJob"):
        from perfbench.workloads import RESUME_DONE_FILES, file_pages

        self.job = job
        self.root = os.path.join(job.work, "resume_root")
        k = RESUME_DONE_FILES
        self.done_paths = job.files[:k]
        self.input_paths = job.files[:k + 1]
        done = [p for f in range(k) for p in file_pages(job.pages, f)]
        new = file_pages(job.pages, k)
        self.urls = {u for u, _, _ in done + new}
        self.new_urls = {u for u, _, _ in new}
        self.new_bytes = sum(len(h.encode("utf-8")) for _, h, _ in new)

    def run(self, spark, spans, listener) -> tuple[list[str], dict]:
        from pyspark.sql import functions as F

        from perfbench import planmetrics
        from tribeca_insights_spark.plans import state as st
        from tribeca_insights_spark.plans.pipeline import run_extraction

        root = self.root
        run_extraction(spark, spark.read.parquet(*self.done_paths), root,
                       run_id="earlier")
        files0, bytes0 = _du(root)
        docs = spark.read.parquet(*self.input_paths)
        layer = {}
        with spans.span("state.reconcile"):
            st.reconcile(spark, root)
        with spans.span("state.pending"):
            layer["state.pending_rows"] = st.pending(docs, spark, root).count()
        layer["state.done_rows"] = st.done_urls(spark, root).count()
        planmetrics.collect(spark, listener)
        with spans.span("pipeline.run_extraction"):
            stats = run_extraction(spark, docs, root)

        problems = []
        if stats["n_processed"] != len(self.new_urls):
            problems.append("n_processed")
        got = st.read_extracted(spark, root).select("url", "page_hash").collect()
        if len(got) != len(self.urls) or {r["url"] for r in got} != self.urls:
            problems.append("extracted_urls")
        want = self.job.expected["hashes"]
        if any(r["page_hash"] != want[r["url"]] for r in got):
            problems.append("page_hash")
        done = {r["url"] for r in st.current_status(st.read_log(spark, root))
                .filter(F.col("status") == 1).select("url").collect()}
        if not self.urls <= done:
            problems.append("log_done")
        walls = [r["wall_ms"] for r in st.read_metrics(spark, root)
                 .filter(F.col("run_id") == stats["run_id"])
                 .select("wall_ms").collect()]
        planmetrics.collect(spark, listener)

        files, nbytes = _du(root)
        layer.update({
            "pipeline.processed_rows": stats["n_processed"],
            "pipeline.output_files": files - files0,
            "pipeline.output_bytes": nbytes - bytes0,
            "pipeline.bytes_stored_per_input_byte":
                (nbytes - bytes0) / self.new_bytes,
            "pipeline.partition_wall_ms_max": max(walls, default=0),
            "pipeline.partition_wall_skew":
                max(walls) / statistics.median(walls) if walls else 0.0,
        })
        shutil.rmtree(root, ignore_errors=True)
        return problems, layer


def _du(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


# ------------------------------------------------------------ layer maths

def plan_layers(pm, input_dir: str) -> dict:
    """Per-layer figures from one iteration's plan metrics."""
    scans = [op for op in pm.ops if op.cls == "FileSourceScanExec"
             and input_dir in op.scan_path]
    py = ("ArrowEvalPythonExec", "MapInPandasExec")
    rows = pm.total(py, "pythonNumRowsReceived")
    sent = pm.total(py, "pythonDataSent")
    recv = pm.total(py, "pythonDataReceived")
    total_ms = pm.total(py, "pythonTotalTime")
    out = {
        "scan.files": sum(op.metrics.get("numFiles", 0) for op in scans),
        "scan.bytes": sum(op.metrics.get("filesSize", 0) for op in scans),
        "scan.rows": sum(op.metrics.get("numOutputRows", 0) for op in scans),
        "scan.time_ms": sum(op.metrics.get("scanTime", 0) for op in scans),
        "extract.rows": rows,
        "extract.python_boot_ms": pm.total(py, "pythonBootTime"),
        "extract.python_init_ms": pm.total(py, "pythonInitTime"),
        "extract.python_total_ms": total_ms,
        "extract.python_ms_per_page": total_ms / rows if rows else 0.0,
        "extract.bytes_sent": sent,
        "extract.bytes_received": recv,
        "extract.recv_per_sent": recv / sent if sent else 0.0,
    }
    ex = "ShuffleExchangeExec"
    gen = pm.total("GenerateExec", "numOutputRows")
    partial = pm.total("HashAggregateExec", "numOutputRows",
                       where=lambda op: op.above_generate)
    out.update({
        "tf.shuffle_records": pm.total(ex, "shuffleRecordsWritten"),
        "tf.shuffle_bytes": pm.total(ex, "shuffleBytesWritten"),
        "tf.shuffle_write_ms": pm.total(ex, "shuffleWriteTime"),
        "tf.fetch_wait_ms": pm.total(ex, "fetchWaitTime"),
        "tf.agg_ms": pm.total("HashAggregateExec", "aggTime"),
        "tf.spill_bytes": spill_bytes(pm),
        "tf.peak_mem_bytes": pm.maximum("HashAggregateExec", "peakMemory"),
        "tf.partial_reduction": partial / gen if gen else 0.0,
    })
    return out


def spill_bytes(pm) -> float:
    return pm.total(("HashAggregateExec", "SortExec"), "spillSize")


def disk_mb(pm) -> float:
    shuffle = pm.total("ShuffleExchangeExec", "shuffleBytesWritten")
    return (shuffle + spill_bytes(pm)) / 1e6


def heap_pools(spark) -> list:
    """The driver JVM's heap memory pools (G1 eden, survivor and old)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"]


def heap_peak_mb(pools) -> float:
    """Sum of the pools' peak use since their last reset. RSS cannot show
    the heap, whose committed size the JVM grows but rarely returns."""
    return sum(p.getPeakUsage().getUsed() for p in pools) / 1e6


def stage_counts(spark, group: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            s = st.getStageInfo(sid)
            if s and s.numCompletedTasks:
                stages += 1
                tasks += s.numCompletedTasks
    return stages, tasks


def replay(pages, seed: int) -> dict:
    """Single-threaded, in-process replay of the Python extraction layers
    over a seeded page sample."""
    from tribeca_insights_spark.functions.slug import url_slug
    from tribeca_insights_spark.functions.tokenize import clean_and_tokenize
    from tribeca_insights_spark.htmlx.extractor import (
        external_links,
        internal_links,
        page_hash,
        parse_page,
        url_domain,
    )
    from tribeca_insights_spark.operators.extract import _extract_batch

    order = list(range(len(pages)))
    random.Random(seed).shuffle(order)
    sample, size = [], 0
    for i in order:
        if size >= REPLAY_BYTES:
            break
        sample.append(pages[i])
        size += len(pages[i][1].encode("utf-8"))
    clock = time.perf_counter
    t_parse = t_tok = t_links = 0.0
    n_tok = 0
    for url, html, lang in sample:
        t0 = clock()
        p = parse_page(html)
        t1 = clock()
        toks = clean_and_tokenize(p.text, lang, "compat")
        t2 = clock()
        dom = url_domain(url)
        external_links(p.links, dom)
        internal_links(p.links, url, dom)
        url_slug(url)
        page_hash(p.text)
        t3 = clock()
        t_parse += t1 - t0
        t_tok += t2 - t1
        t_links += t3 - t2
        n_tok += len(toks)
    n = len(sample)
    out = {
        "htmlx.parse_us_per_page": t_parse / n * 1e6,
        "htmlx.parse_us_per_kb": t_parse / (size / 1e3) * 1e6,
        "tokenize.us_per_page": t_tok / n * 1e6,
        "tokenize.tokens_per_page": n_tok / n,
        "extract.links_us_per_page": t_links / n * 1e6,
    }
    cols = (pd.Series([u for u, _, _ in sample]),
            pd.Series([h.encode("utf-8") for _, h, _ in sample]),
            pd.Series([lg for _, _, lg in sample]),
            pd.Series([None] * n, dtype=object))
    t0 = clock()
    _extract_batch(*cols)
    per_page = (clock() - t0) / n * 1e6
    out["extract.batch_us_per_page"] = per_page
    out["extract.encode_us_per_page"] = (
        per_page - out["htmlx.parse_us_per_page"]
        - out["tokenize.us_per_page"])
    return out


# -------------------------------------------------------------------- main

def box_info(cores: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": cores, "master": f"local[{cores}]",
        "load1_before": os.getloadavg()[0],
        "driver_memory": DRIVER_MEMORY,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "mem_total_mb": os.sysconf("SC_PAGE_SIZE")
        * os.sysconf("SC_PHYS_PAGES") // 2**20,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    left = _tree(proc.pid) if proc else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in left:
        while _running(pid):
            if time.time() > deadline:  # a worker that outlived the JVM
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.05)


def _running(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run: inputs, set-up, measured window and teardown."""

    def __init__(self, args, work: str, cores: int):
        self.args, self.work, self.cores = args, work, cores
        self.spark = None
        self.spans = None
        self.box = box_info(cores)

    def setup(self) -> list[float]:
        """Set up ``SETUP_CYCLES`` sessions (the first one also launches
        the JVM); the last one stays for the measured window."""
        from tribeca_insights_spark.session import get_spark

        walls = []
        for _ in range(SETUP_CYCLES):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.spans.span("setup"):
                with self.spans.span("session.start"):
                    self.spark = get_spark(app_name="perfbench",
                                           master=f"local[{self.cores}]",
                                           extra_conf=session_conf(self.work))
                    self.spark.sparkContext.setLogLevel("ERROR")
                with self.spans.span("session.worker_warm"):
                    warm_workers(self.spark, self.cores)
                with self.spans.span("session.plan_warm"):
                    self.job.warm_first_plan(self.spark, self.spans)
            walls.append(time.perf_counter() - t0)
        return walls

    def window(self, listener):
        """Repeat the job for ``--seconds`` (and at least ``MIN_ITERS``
        times). With tracing, iterations alternate untraced and traced.
        Every iteration's output is checked. Returns the iteration records,
        attempted and failed counts."""
        from pyspark import SparkContext

        sc = self.spark.sparkContext
        trace = bool(self.args.trace)
        iters, attempted, failed = [], 0, 0
        pools = heap_pools(self.spark)
        with RssSampler(SparkContext._gateway.proc.pid) as rss:
            start = time.perf_counter()
            while (time.perf_counter() - start < MAX_WINDOW_S
                   and (time.perf_counter() - start < self.args.seconds
                        or len(iters) < MIN_ITERS)):
                kind = "traced" if trace and len(iters) % 2 == 1 else "plain"
                self.spans.enabled = kind == "traced"
                group = f"perfbench-{attempted}"
                sc.setJobGroup(group, group)
                attempted += 1
                for p in pools:
                    p.resetPeakUsage()
                try:
                    wall, problems, pm = self.job.iteration(
                        self.spark, self.spans, listener)
                except Exception as exc:  # a failed op counts; go on
                    failed += 1
                    print(f"perfbench: iteration {attempted} raised {exc!r}",
                          file=sys.stderr)
                    if failed >= 3 and failed == attempted:
                        break
                    continue
                if problems:
                    failed += 1
                    print(f"perfbench: iteration {attempted} output "
                          f"mismatch: {problems}", file=sys.stderr)
                layer = {"local_disk_mb": disk_mb(pm)}
                if kind == "traced":
                    layer["jvm.heap_peak_mb"] = heap_peak_mb(pools)
                    layer.update(plan_layers(pm, self.job.input))
                    # busy core time as a share of the cores × wall
                    core_ms = self.cores * wall * 1e3
                    layer["extract.wall_share"] = (
                        layer["extract.python_total_ms"] / core_ms)
                    layer["tf.agg_wall_share"] = layer["tf.agg_ms"] / core_ms
                    (layer["spark.stages_per_run"],
                     layer["spark.tasks_per_run"]) = stage_counts(
                        self.spark, group)
                iters.append({"kind": kind, "wall_s": wall,
                              "ok": not problems, **layer})
            self.spans.enabled = True
        self.peak_rss = rss.peak
        return iters, attempted, failed

    def execute(self) -> dict:
        from perfbench import planmetrics
        from perfbench.spans import SpanRecorder

        args = self.args
        phases = {}
        t0 = time.perf_counter()
        self.job = job = TfJob(args.workload, args.seed, self.work, self.cores)
        phases["inputs_and_oracle_s"] = time.perf_counter() - t0
        self.spans = SpanRecorder(enabled=True)
        setup_walls = self.setup()
        self.box["driver_memory"] = self.spark.conf.get("spark.driver.memory")
        t0 = time.perf_counter()
        job.run(self.spark, self.spans, job.files[:WARMUP_FILES])
        listener = planmetrics.attach(self.spark)
        planmetrics.collect(self.spark, listener)
        phases["warmup_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        iters, attempted, failed = self.window(listener)
        phases["window_s"] = time.perf_counter() - t0
        self.box["load1_after"] = os.getloadavg()[0]

        good = [it for it in iters if it["ok"]]
        plain = [it for it in good if it["kind"] == "plain"]
        walls = [it["wall_s"] for it in plain]
        n_pages = len(job.pages)
        metrics = {
            "setup_s": median(setup_walls[1:]),
            "docs_per_s": median([n_pages / w for w in walls]),
            "html_mb_per_s": median([job.html_bytes / 1e6 / w
                                     for w in walls]),
            "peak_rss_mb": self.peak_rss / 1e6,
            "local_disk_mb": median([it["local_disk_mb"] for it in plain]),
        }
        layers = {}
        if args.trace:
            t0 = time.perf_counter()
            attempted += 1
            try:
                problems, probe = ResumeProbe(job).run(self.spark, self.spans,
                                                       listener)
            except Exception as exc:  # counts as a failed op
                problems, probe = [repr(exc)], {}
            if problems:
                failed += 1
                print(f"perfbench: resume probe failed: {problems}",
                      file=sys.stderr)
            phases["resume_probe_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            layers = trace_metrics(job, self.spans, good, probe, args.seed)
            phases["replay_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.stop()
        phases["teardown_s"] = time.perf_counter() - t0
        if args.trace:
            with open(os.environ["TRIBECA_DAEMON_STDERR"], "a+b") as fh:
                fh.seek(0)
                layers["extract.worker_tracebacks"] = fh.read().count(
                    b"Traceback (most recent call last)")
        return {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "box": self.box,
            "params": {"pages": n_pages, "html_bytes": job.html_bytes},
            "setup_walls_s": setup_walls, "phases": phases,
            "iterations": iters,
            "end_to_end": metrics, "per_layer": layers,
            "attempted": attempted, "failed": failed,
            "correct": failed == 0 and bool(good),
        }

    def stop(self):
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import tribeca_insights_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: package under test not importable: {exc}",
              file=sys.stderr)
        return 2

    from perfbench.oracle import stop_resource_tracker

    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = usable_cores()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, cores)
    run = Run(args, work, cores)
    try:
        rec = run.execute()
    finally:
        try:
            run.stop()
        finally:
            stop_resource_tracker()
            shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    run.spans.dump(os.path.join(out_dir, f"{tag}.spans.json"))
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)

    e2e, layers = rec["end_to_end"], rec["per_layer"]
    attempted, failed = rec["attempted"], rec["failed"]
    print("perfbench box: " + json.dumps(rec["box"]))
    print(f"perfbench {args.workload} seed={args.seed}: " + ", ".join(
        f"{k}={v:.4g} {UNITS[k]}" for k, v in e2e.items())
        + f", failed_op_ratio={failed}/{attempted}="
        f"{failed / attempted:.4g} ratio")
    if args.trace:
        print(f"perfbench {args.workload} layers: " + ", ".join(
            f"{k}={v:.6g} {UNITS[k]}" for k, v in layers.items()))
        print(f"perfbench {args.workload} python body per page: replayed "
              f"_extract_batch {layers['extract.batch_us_per_page'] / 1e3:.4g}"
              f" ms vs extract.python_ms_per_page "
              f"{layers['extract.python_ms_per_page']:.4g} ms")
    chosen = layers if args.trace else e2e
    print(json.dumps({
        "correct": rec["correct"], "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in chosen.items()},
    }))
    return 0


def trace_metrics(job, spans, good, probe: dict, seed: int) -> dict:
    """Per-layer figures: medians over traced iterations, set-up spans,
    the resume probe and the in-process replay."""
    traced = [it for it in good if it["kind"] == "traced"]
    untraced = [it for it in good if it["kind"] == "plain"]
    keys = {k for it in traced for k in it} & set(PER_LAYER)
    out = {k: float(median([it.get(k, 0.0) for it in traced])) for k in keys}
    out.update(probe)
    for name in ("session.start", "session.worker_warm", "state.reconcile",
                 "state.pending", "pipeline.run_extraction"):
        key = "pipeline.run" if name.startswith("pipeline") else name
        out[f"{key}_s"] = median(spans.durations(name))
    e = job.expected
    out["htmlx.empty_text_share"] = e["n_empty"] / len(job.pages)
    out.update(replay(job.pages, seed))
    n = len(job.pages)
    dps_t = median([n / it["wall_s"] for it in traced])
    dps_u = median([n / it["wall_s"] for it in untraced])
    out["trace.docs_per_s_traced"] = dps_t
    out["trace.docs_per_s_untraced"] = dps_u
    out["trace.overhead_docs_per_s"] = dps_u - dps_t
    return {k: out.get(k, 0.0) for k in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
