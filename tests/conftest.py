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


@pytest.fixture()
def write_plan(spark):
    """``write_plan(fn)`` runs ``fn()`` and returns its result and the
    final (adaptive) physical plan of the last file write it ran, read
    from the SQL status store, which Spark keeps with the UI off."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def run(fn):
        tag = f"write_plan_{next(_JOB_GROUPS)}"
        sc.setJobDescription(tag)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.job.description", None)
        # The store is filled by a listener: wait until it has seen
        # the write's final plan.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        recent = store.executionsList(max(0, n - 20), 20)
        plans = [
            e.physicalPlanDescription()
            for e in (recent.apply(i) for i in range(recent.size()))
            if e.description() == tag
            and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
        ]
        return out, plans[-1]

    return run


class InjectedCrash(RuntimeError):
    """Raised by ``journal_crash`` in place of a filesystem call."""


class _CrashingFS:
    """Proxy of a Hadoop FileSystem that records each mutating call
    and raises InjectedCrash in place of call number ``crash_at``."""

    MUTATING = {"create", "rename", "delete", "mkdirs"}

    def __init__(self, fs, calls: list, crash_at: int | None):
        self._fs, self._calls, self._crash_at = fs, calls, crash_at

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in self.MUTATING:
            return attr

        def call(*args):
            if len(self._calls) == self._crash_at:
                raise InjectedCrash(f"crash at call {self._crash_at}: {name}")
            self._calls.append(name)
            return attr(*args)

        return call


@pytest.fixture()
def journal_crash(monkeypatch):
    """``journal_crash(k)`` makes the lake-commit journal's mutating
    filesystem call number ``k`` (create, rename, delete or mkdirs,
    counted from 0 over everything the journal does from now on)
    raise InjectedCrash; ``k=None`` only counts. Returns the list the
    calls made are appended to."""
    from data_ingestor_gluejob_script_spark import journal

    real = journal._hadoop_path

    def arm(k):
        calls: list[str] = []

        def wrapped(spark, path):
            fs, p = real(spark, path)
            return _CrashingFS(fs, calls, k), p

        monkeypatch.setattr(journal, "_hadoop_path", wrapped)
        return calls

    return arm
