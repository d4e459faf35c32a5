from __future__ import annotations

import itertools
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_ingestor_gluejob_script_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    yield s


_JOB_GROUPS = itertools.count()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns its result and the number of Spark jobs it launched
    (statusTracker)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
