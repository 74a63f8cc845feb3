"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` single-JVM, N = :func:`core_count`; the
config choices below are the ones that matter on a real multi-executor
cluster and are harmless locally:

* AQE on (runtime coalescing + skew-join splitting) — the safety net under
  the explicit salting of ``joins.salted_skew_join``.
* Arrow enabled for pandas UDFs, with ``maxRecordsPerBatch`` tuned DOWN:
  Common-Crawl HTML blobs run 10s of KB to MBs, so the 10k-row default
  would balloon Python-worker memory; 512 rows/batch keeps a batch in the
  tens-of-MB range even for fat pages while still amortizing Arrow transfer.
* shuffle partitions default to a small multiple of cores locally; on a
  cluster you'd size this to ~2-3× total cores (or let AQE coalesce from a
  higher number).

Local masters (``local*``) boot their Python workers from the package's
daemon, :mod:`.quiet_daemon`, which imports pyspark from its installed copy
rather than the JVM's ``pyspark.zip`` and preloads the UDF runtime once
before forking. ``spark.executorEnv.PYTHONPATH`` carries the package's
parent directory, so the daemon and its workers import the package from
any working directory, and no package zip is shipped. Other masters get
the package as a ``--py-files``-style zip (:func:`package_zip`).
``extra_conf`` overrides any of these settings.
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession


PKG_DIR = pathlib.Path(__file__).resolve().parent


def core_count() -> int:
    """Cores for local sessions: ``$SPARK_GRAFT_CPUS`` when it is a positive
    integer, else the number of CPUs this process may run on."""
    v = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(v) if v.isdigit() and int(v) > 0 else len(os.sched_getaffinity(0))


def package_zip() -> str:
    """Zip this package for shipping to executors — the same artifact you
    would pass to ``spark-submit --py-files`` on a real cluster. Rebuilt on
    demand (the package is a few tens of KB)."""
    zpath = os.path.join(tempfile.gettempdir(), "tribeca_insights_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted(PKG_DIR.rglob("*.py")):
            zf.write(p, os.path.join(PKG_DIR.name, p.relative_to(PKG_DIR)))
    return zpath


def find_iceberg_jar() -> str | None:
    """Probe common locations for an Iceberg Spark runtime jar so the MERGE
    path self-activates the moment one is present (this sandbox ships none
    and has no network; on any jar-present host the live Iceberg cycle runs
    with zero code change). Order: ``$ICEBERG_SPARK_JAR`` (exact file) →
    ``$SPARK_HOME/jars`` → pyspark's bundled ``jars/`` → conventional
    ``/opt``//``/usr/local`` spark dirs. Newest version wins."""
    import glob

    explicit = os.environ.get("ICEBERG_SPARK_JAR")
    if explicit and os.path.isfile(explicit):
        return explicit
    roots = []
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        roots.append(os.path.join(spark_home, "jars"))
    try:
        import pyspark

        roots.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:  # pragma: no cover
        pass
    roots += ["/opt/spark/jars", "/usr/local/spark/jars", "/opt/iceberg"]
    hits: list[str] = []
    for r in roots:
        hits += glob.glob(os.path.join(r, "iceberg-spark-runtime*.jar"))
    return sorted(hits)[-1] if hits else None


def get_spark(
    app_name: str = "tribeca-insights-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 512,
    extra_conf: dict | None = None,
) -> SparkSession:
    n = core_count()
    master = master or f"local[{n}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n)
    local = master.startswith("local")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Iceberg self-activation: when a runtime jar is present, wire it plus
    # the `ti` catalog into the session so plans/iceberg.py's live MERGE
    # path works out of the box (iceberg_available() flips true and the
    # formerly-skipped live test runs). No-op in jar-less environments.
    jar = find_iceberg_jar()
    if jar:
        from .plans.iceberg import catalog_conf

        warehouse = os.environ.get(
            "ICEBERG_WAREHOUSE",
            os.path.join(tempfile.gettempdir(), "ti_iceberg_warehouse"),
        )
        b = b.config("spark.jars", jar)
        for k, v in catalog_conf(warehouse).items():
            b = b.config(k, v)
    if local:
        b = b.config(
            "spark.python.daemon.module", "tribeca_insights_spark.quiet_daemon"
        ).config("spark.executorEnv.PYTHONPATH", str(PKG_DIR.parent))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if not local:
        # Ship the package to Python workers — equivalent of --py-files.
        spark.sparkContext.addPyFile(package_zip())
    return spark
