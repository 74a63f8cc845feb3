"""The local Python worker daemon: the pyspark.zip identity guard, and a
pandas UDF run under the default daemon from outside the repository."""

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from tribeca_insights_spark.quiet_daemon import _same_as_installed, skip_pyspark_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FILES = {
    "pyspark/__init__.py": b"VERSION = '9.9'\n",
    "pyspark/worker.py": b"def main():\n    return 0\n",
    "pyspark/sql/pandas/serializers.py": b"ARROW = True\n",
}


@pytest.fixture
def layout(tmp_path):
    """(zip path, installed site dir) holding the same pyspark files."""
    site = tmp_path / "site"
    for name, data in FILES.items():
        p = site / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    zpath = tmp_path / "lib" / "pyspark.zip"
    zpath.parent.mkdir()
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in FILES.items():
            zf.writestr(name, data)
        # wheels ship no test or benchmark scripts: their absence is fine
        zf.writestr("pyspark/tests/test_worker.py", b"assert True\n")
        zf.writestr("pyspark/sql/streaming/benchmark/utils.py", b"N = 1\n")
    return str(zpath), str(site)


def test_identical_install_drops_zip(layout):
    zpath, site = layout
    path = ["", zpath, site]
    skip_pyspark_zip(path)
    assert path == ["", site]


def test_one_changed_byte_keeps_path(layout):
    zpath, site = layout
    p = os.path.join(site, "pyspark", "worker.py")
    with open(p, "rb") as fh:
        data = bytearray(fh.read())
    data[0] ^= 1
    with open(p, "wb") as fh:
        fh.write(bytes(data))
    path = ["", zpath, site]
    skip_pyspark_zip(path)
    assert path == ["", zpath, site]


def test_missing_module_keeps_path(layout):
    zpath, site = layout
    os.remove(os.path.join(site, "pyspark", "sql", "pandas", "serializers.py"))
    path = [zpath, site]
    skip_pyspark_zip(path)
    assert path == [zpath, site]


def test_no_installed_copy_keeps_path(layout, tmp_path):
    zpath, _ = layout
    empty = tmp_path / "empty"
    empty.mkdir()
    path = [zpath, str(empty)]
    skip_pyspark_zip(path)
    assert path == [zpath, str(empty)]


DRIVER = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from tribeca_insights_spark.session import get_spark

    spark = get_spark(app_name="daemon-test", master="local[2]")

    @pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import os
        import numpy as np
        import pyspark

        rng = np.random.default_rng(len(s))
        a = rng.standard_normal((400, 400))
        b = rng.standard_normal((400, 400))
        ok = bool(np.allclose((a @ b)[7, 11], np.dot(a[7], b[:, 11])))
        info = {
            "daemon": sys.modules["__main__"].__spec__.name,
            "pyspark": pyspark.__file__,
            "pythonpath": os.environ.get("PYTHONPATH", ""),
            "matmul_ok": ok,
        }
        return s.map(lambda _: json.dumps(info))

    rows = spark.range(8).repartition(8).select(probe("id").alias("j")).collect()
    print("RESULT " + json.dumps(sorted({r["j"] for r in rows})))
    spark.stop()
    """
)


def test_default_daemon_runs_pandas_udf_outside_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", DRIVER, REPO], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    infos = [json.loads(j) for j in json.loads(line[0][len("RESULT "):])]
    assert infos
    for info in infos:
        assert info["daemon"] == "tribeca_insights_spark.quiet_daemon"
        assert info["matmul_ok"] is True
        zips = [p for p in info["pythonpath"].split(os.pathsep)
                if os.path.basename(p) == "pyspark.zip"]
        if zips and all(_same_as_installed(z, sys.path) for z in zips):
            assert ".zip" not in info["pyspark"], info
