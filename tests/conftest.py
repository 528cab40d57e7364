from __future__ import annotations

import pathlib
import shutil

import pytest

from tap_github_search_spark.session import get_spark

#: per-checkout scratch root, so suites run from two clones never share
#: (or ``rmtree``) each other's tables
TMP = str(pathlib.Path(__file__).resolve().parents[1] / "data/tmp/pytest")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, shuffle_partitions=8, app_name="pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tmp_dir(request):
    # [] are glob metacharacters to Hadoop paths — sanitize param'd names
    safe = request.node.name.replace("[", "_").replace("]", "")
    d = f"{TMP}/{safe}"
    shutil.rmtree(d, ignore_errors=True)
    return d
