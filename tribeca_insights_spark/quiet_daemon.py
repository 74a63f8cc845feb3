"""The package's PySpark worker daemon: every Python worker of a local
session forks from one warm process.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module
for ``local*`` masters; the JVM starts it as ``python -m
tribeca_insights_spark.quiet_daemon`` and forks one worker per Python task
slot from it. Before it imports ``pyspark.daemon`` it does three things:

1. **Skips the zip.** The JVM puts ``$SPARK_HOME/python/lib/pyspark.zip``
   first on the daemon's ``PYTHONPATH``. zipimport keeps no bytecode, so
   importing pyspark from the zip compiles it on every session start
   (1.0-1.45 s on a 4-core VM, against 0.3 s from the installed copy).
   The identity guard drops the zip from ``sys.path`` only when the
   installed pyspark is byte-identical to it: the CRC-32 of every zip member,
   read from the zip's central directory, equals ``zlib.crc32`` of the
   installed file. Only members under ``tests``/``benchmark`` directories,
   which pip wheels leave out, may be absent. On any mismatch, or with no
   installed pyspark, ``sys.path`` stays as the JVM set it.
2. **Preloads** pandas, pyarrow, pyspark's Arrow serializers and
   ``operators.extract`` (with ``htmlx`` and the tokenizer), so a forked
   worker starts with them imported instead of cold-importing them
   before its first batch.
3. **Freezes** the heap (``gc.freeze``). A reused worker runs
   ``gc.collect()`` after every task; frozen objects are skipped by it, so
   they are not dirtied copy-on-write.

``TRIBECA_DAEMON_STDERR`` names a side log for the daemon's stderr (unset:
stderr stays as is). PySpark's workers print benign ``BrokenPipeError``
noise when the JVM closes a reused worker's socket with unflushed output.
They inherit the daemon's fd 2, so only the daemon can move it; bench.py
and perfbench point it at a side log and count its tracebacks. Real worker
errors travel to the JVM over the worker protocol and surface driver-side
wherever worker stderr points.
"""

import gc
import os
import sys
import zipfile
import zlib
from importlib.machinery import PathFinder

# directories of pyspark.zip that pip wheels do not install
_NOT_INSTALLED = frozenset({"tests", "benchmark"})


def _same_as_installed(zip_path: str, search_path: list) -> bool:
    """True when the pyspark found on ``search_path`` holds every member of
    the zip at ``zip_path`` byte for byte (by CRC-32)."""
    spec = PathFinder.find_spec("pyspark", search_path)
    if spec is None or not spec.submodule_search_locations:
        return False
    root = os.path.dirname(spec.submodule_search_locations[0])
    try:
        with zipfile.ZipFile(zip_path) as zf:
            members = [i for i in zf.infolist() if not i.is_dir()]
        for info in members:
            parts = info.filename.split("/")
            try:
                with open(os.path.join(root, *parts), "rb") as fh:
                    crc = zlib.crc32(fh.read())
            except FileNotFoundError:
                if _NOT_INSTALLED.isdisjoint(parts[:-1]):
                    return False
                continue
            if crc != info.CRC:
                return False
    except (OSError, zipfile.BadZipFile):
        return False
    return bool(members)


def skip_pyspark_zip(path: list) -> None:
    """Remove each ``pyspark.zip`` entry from ``path`` (in place) whose
    contents the installed pyspark on the rest of ``path`` matches."""
    for entry in [p for p in path if os.path.basename(p) == "pyspark.zip"]:
        if _same_as_installed(entry, [p for p in path if p != entry]):
            path.remove(entry)


def _preload() -> None:
    try:
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark.sql.pandas.serializers  # noqa: F401

        from .operators import extract  # noqa: F401
    except Exception:  # noqa: BLE001
        # a failed preload costs only the warm start: a worker that needs
        # the module imports it again and raises where the UDF runs
        import traceback

        traceback.print_exc()


def main() -> None:
    log = os.environ.get("TRIBECA_DAEMON_STDERR")
    if log:
        fd = os.open(log, os.O_CREAT | os.O_APPEND | os.O_WRONLY)
        os.dup2(fd, 2)
        os.close(fd)
        sys.stderr = os.fdopen(2, "w", buffering=1)
    skip_pyspark_zip(sys.path)
    _preload()
    from pyspark.daemon import manager

    gc.freeze()
    manager()


if __name__ == "__main__":
    main()
