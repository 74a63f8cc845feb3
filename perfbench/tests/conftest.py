import os
import shutil

import pytest

from perfbench import run


@pytest.fixture(scope="session")
def work():
    path = os.path.join(run.ROOT, ".bench_work", f"selftest-{os.getpid()}")
    run.configure_env(path, 2)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="session")
def spark(work):
    from tribeca_insights_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest", master="local[2]",
                  extra_conf=run.session_conf(work))
    s.sparkContext.setLogLevel("ERROR")
    yield s
    run.stop_spark(s)
