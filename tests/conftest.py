from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from go_dfs_mapreduce_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    # the workers must fork from the package daemon, or every Python task
    # pays the per-task zip re-read the daemon exists to remove
    (reported,) = (
        s.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("zipimport").zipimporter.invalidate_caches.__module__)
        .collect()
    )
    if sys.version_info < (3, 12):
        assert reported == "go_dfs_mapreduce_spark.pydaemon", reported
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
