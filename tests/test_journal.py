"""Fault matrix of the lake-commit journal (journal.py).

For every lake writer, the matrix first runs the writer once without a
crash and counts the journal's mutating filesystem calls (create,
rename, delete, mkdirs; the ``journal_crash`` fixture). Then, for each
call k, it runs the writer on a fresh copy of the same lake with call k
raising, recovers the lake, and checks that it holds either the old or
the new row set, then reruns the writer. The rerun must reach the
no-crash run's row set, with no duplicate row and no journal staging
left behind. ``pipeline.run`` gets the same check for a crash between
two tables and one before the watermark commit, on the lake and on the
watermarks."""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from data_ingestor_gluejob_script_spark import journal, pipeline
from data_ingestor_gluejob_script_spark.migrate import backfill_digest_column
from data_ingestor_gluejob_script_spark.operators.diff import row_digest
from data_ingestor_gluejob_script_spark.pipeline import (
    LocalFileSource,
    apply_cdc_batch,
    compact_partitions,
    forget_rows,
    lake_table_root,
    write_partitioned_upsert,
)
from data_ingestor_gluejob_script_spark.registry import CATALOG
from data_ingestor_gluejob_script_spark.streaming import compact_append_lakes
from data_ingestor_gluejob_script_spark.watermarks import WatermarkStore

SUBS = CATALOG["retail_subscriptions"]
PLANS = CATALOG["retail_plans"]
JAN, FEB, MAR = "2024-01-10 10:00:00", "2024-02-10 10:00:00", "2024-03-10 10:00:00"


def _row(spec, **values):
    return {**{c: f"x_{c}" for c in spec.columns}, **values}


def _sub(id, created, updated=None, status="active"):
    return _row(SUBS, id=id, created_at=created,
                updated_at=updated or created, status=status)


def _frame(spark, rows, cols=SUBS.columns):
    return spark.createDataFrame([[r[c] for c in cols] for r in rows], list(cols))


def _hive_rows(spark, lake, table=SUBS.name):
    root = lake_table_root(lake, table)
    if not os.path.exists(root):
        return Counter()
    df = spark.read.parquet(root)
    return Counter(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _flat_rows(spark, lake):
    df = spark.read.parquet(lake)
    return Counter(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _hive_lake(spark, lake, rows, **kw):
    write_partitioned_upsert(
        spark, _frame(spark, rows), SUBS, lake, broadcast_batch=False, **kw
    )


BASE = [_sub("s0", JAN), _sub("s1", JAN), _sub("f0", FEB)]


# --- the seven writer paths: (set the lake up, run the writer on it,
# --- its row set, the journal's target) ---------------------------------


def _daily_setup(spark, lake):
    _hive_lake(spark, lake, BASE)


def _daily(spark, lake):
    # s0 updated in January, m0 lands in a new March partition
    write_partitioned_upsert(spark, _frame(spark, [
        _sub("s0", JAN, "2024-03-01 00:00:00", "cancelled"), _sub("m0", MAR),
    ]), SUBS, lake)


def _cdc(spark, lake):
    # s0 updated in January; f0 deleted, which empties February
    changes = [
        dict(_sub("s0", JAN, "2024-03-01 00:00:00", "cancelled"), _op="U"),
        dict(_sub("f0", FEB, "2024-03-01 00:00:00"), _op="D"),
    ]
    apply_cdc_batch(
        spark, _frame(spark, changes, list(SUBS.columns) + ["_op"]), SUBS, lake
    )


def _compat_setup(spark, lake):
    _hive_lake(spark, lake, BASE[:2], single_object_compat=True)


def _compat(spark, lake):
    write_partitioned_upsert(spark, _frame(spark, [
        _sub("s1", JAN, "2024-03-01 00:00:00", "cancelled"), _sub("f1", FEB),
    ]), SUBS, lake, single_object_compat=True)


def _forget(spark, lake):
    # s0 leaves January its s1; f0 was February's only row
    forget_rows(spark, spark.createDataFrame([("s0",), ("f0",)], "id string"),
                SUBS, lake)


def _compact_setup(spark, lake):
    _hive_lake(spark, lake, BASE)
    _hive_lake(spark, lake, [_sub("s2", JAN), _sub("f1", FEB)])


def _compact(spark, lake):
    compact_partitions(spark, lake_table_root(lake, SUBS.name))


def _append_setup(spark, lake):
    for i in range(3):
        spark.range(i * 2, i * 2 + 2).coalesce(1).write.mode("append").parquet(lake)


def _append_compact(spark, lake):
    compact_append_lakes(spark, lake, force=True)


def _digest_setup(spark, lake):
    # the pre-sentinel convention digested a NULL text as md5('')
    legacy = F.md5(F.coalesce(F.col("text"), F.lit("")))
    for rows in ([(1, "alpha"), (2, "")], [(3, None)]):
        spark.createDataFrame(rows, "doc_id long, text string").withColumn(
            "text_md5", legacy
        ).coalesce(1).write.mode("append").parquet(lake)


def _digest(spark, lake):
    backfill_digest_column(spark, lake, "text_md5", row_digest(["text"]))


def _hive_target(lake):
    return lake_table_root(lake, SUBS.name)


WRITERS = {
    "daily_upsert": (_daily_setup, _daily, _hive_rows, _hive_target),
    "cdc_delete_empties_partition": (_daily_setup, _cdc, _hive_rows, _hive_target),
    "single_object_compat": (_compat_setup, _compat, _hive_rows, _hive_target),
    "forget_rows": (_daily_setup, _forget, _hive_rows, _hive_target),
    "compact_partitions": (_compact_setup, _compact, _hive_rows, _hive_target),
    "streaming_compaction": (_append_setup, _append_compact, _flat_rows, str),
    "digest_backfill": (_digest_setup, _digest, _flat_rows, str),
}


def _no_journal(target):
    return not os.path.exists(os.path.dirname(journal.staging(target)))


@pytest.fixture()
def narrow_shuffles(spark):
    """Start AQE's shuffles 8 wide, not 256: the matrix runs each
    writer about twenty times on a few rows."""
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    wide = spark.conf.get(key)
    spark.conf.set(key, "8")
    yield
    spark.conf.set(key, wide)


@pytest.mark.parametrize("writer", list(WRITERS))
def test_writer_fault_matrix(
    spark, tmp_path, journal_crash, narrow_shuffles, writer
):
    setup, act, rows, target = WRITERS[writer]
    base = str(tmp_path / "base")
    setup(spark, base)
    old = rows(spark, base)

    def fresh(name):
        lake = str(tmp_path / name)
        shutil.copytree(base, lake)
        return lake

    lake = fresh("no_crash")
    calls = journal_crash(None)
    act(spark, lake)
    want = rows(spark, lake)
    assert want != old or writer.startswith(("compact", "streaming"))
    assert max(want.values()) == 1 and _no_journal(target(lake))
    n_calls = len(calls)
    assert n_calls >= 5, calls  # recovery, manifest, publish, cleanup

    for k in range(n_calls):
        lake = fresh(f"crash_{k}")
        journal_crash(k)
        with pytest.raises(RuntimeError, match="crash at call"):
            act(spark, lake)
        journal_crash(None)
        journal.recover(spark, target(lake))
        assert _no_journal(target(lake)), k
        # the old lake or the new one, never a partial one
        assert rows(spark, lake) in (old, want), k
        act(spark, lake)
        assert rows(spark, lake) == want, k
        assert _no_journal(target(lake)), k


def test_truncated_manifest_does_not_wedge_the_backfill(
    spark, tmp_path, monkeypatch
):
    """A crash while the manifest is being written leaves a truncated
    file. It is the ``.tmp`` of a commit that never happened, so the
    next run drops it and redoes the backfill (a manifest written in
    place would fail every later run with a JSON decode error)."""
    lake = str(tmp_path / "lake")
    _digest_setup(spark, lake)
    real = journal._hadoop_path

    class HalfStream:
        def __init__(self, out):
            self.out = out

        def write(self, data):
            self.out.write(data[: len(data) // 2])
            raise RuntimeError("crash mid-write")

        def close(self):
            self.out.close()

    class HalfFS:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def create(self, *args):
            return HalfStream(self.fs.create(*args))

    def half(spark, path):
        fs, p = real(spark, path)
        return HalfFS(fs), p

    monkeypatch.setattr(journal, "_hadoop_path", half)
    with pytest.raises(RuntimeError, match="crash mid-write"):
        _digest(spark, lake)
    monkeypatch.setattr(journal, "_hadoop_path", real)
    jdir = os.path.dirname(journal.staging(lake))
    with open(os.path.join(jdir, "manifest.json.tmp")) as f:
        with pytest.raises(json.JSONDecodeError):
            json.load(f)
    assert backfill_digest_column(
        spark, lake, "text_md5", row_digest(["text"])
    ) == {"files": 1, "rows": 1}
    got = spark.read.parquet(lake)
    assert got.count() == 3
    assert got.filter(~F.col("text_md5").eqNullSafe(row_digest(["text"]))).count() == 0
    assert _no_journal(lake)


# --- pipeline.run: crashes between tables and before the watermark commit


def _csv(dirpath, spec, rows):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, f"{spec.name}.csv"), "w") as f:
        f.write(";".join(spec.columns) + "\n")
        for r in rows:
            f.write(";".join(r[c] for c in spec.columns) + "\n")


def _plan(id, sub_id, created, updated=None):
    return _row(PLANS, id=id, retail_subscription_id=sub_id,
                created_at=created, updated_at=updated or created)


TABLES = ["retail_subscriptions", "retail_plans"]
NOW = datetime(2024, 2, 10)


def _run_case(spark, tmp_path, crash=None):
    """Load two tables, then run one Scheduled day; with ``crash``
    (which patches a crash in through the MonkeyPatch it gets), run the
    day crashing first, then again. Returns both tables' rows and the
    watermark file."""
    src = str(tmp_path / "src" / "corleone")
    _csv(src, SUBS, [_sub("s1", JAN), _sub("s2", FEB)])
    _csv(src, PLANS, [_plan("p1", "s1", JAN), _plan("p2", "s2", FEB)])
    lake, wm = str(tmp_path / "lake"), str(tmp_path / "wm.json")
    pipeline.run(spark, "OnDemand", "allTables", lake,
                 WatermarkStore(wm, TABLES, now=NOW),
                 source_root=str(tmp_path / "src"))
    # the day: s1 changes, and a plan of it arrives in March
    day = "2024-02-20 00:00:00"
    _csv(src, SUBS, [_sub("s1", JAN, day, "cancelled"), _sub("s2", FEB)])
    _csv(src, PLANS, [_plan("p1", "s1", JAN), _plan("p2", "s2", FEB),
                      _plan("p3", "s1", MAR, day)])

    def run():
        return pipeline.run(
            spark, "Scheduled", "allTables", lake,
            WatermarkStore(wm, TABLES, now=NOW),
            source=LocalFileSource(src, clock=datetime(2024, 3, 1)),
        )

    if crash is not None:
        with pytest.MonkeyPatch.context() as m:
            crash(m)
            with pytest.raises(RuntimeError, match="injected"):
                run()
    run()
    with open(wm) as f:
        marks = json.load(f)
    return _hive_rows(spark, lake), _hive_rows(spark, lake, PLANS.name), marks


def test_run_converges_after_crash_between_tables(spark, tmp_path):
    real, calls = pipeline.write_partitioned_upsert, []

    def write(*args, **kw):
        calls.append(args[2].name)
        if len(calls) == 2:
            raise RuntimeError("injected crash before the second table")
        return real(*args, **kw)

    want = _run_case(spark, tmp_path / "no_crash")
    assert want[2]["retail_subscriptions"] == "2024-03-01 00:00:00"
    got = _run_case(
        spark, tmp_path / "crash",
        lambda m: m.setattr(pipeline, "write_partitioned_upsert", write),
    )
    assert sorted(calls) == sorted(TABLES) and got == want


def test_run_converges_after_crash_before_watermark_commit(spark, tmp_path):
    def commit(self):
        raise RuntimeError("injected crash before the watermark commit")

    want = _run_case(spark, tmp_path / "no_crash")
    assert _run_case(
        spark, tmp_path / "crash",
        lambda m: m.setattr(WatermarkStore, "commit", commit),
    ) == want
