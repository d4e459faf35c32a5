"""Batch evaluation in both lake writers: the empty-batch skip, the
NULL-id guard and the touched-partition set come from ONE pass over the
batch. Covers the guards on both arms of the hive-path writer, the
release of the broadcast arm's cached batch on every exit path
(persistent-RDD count unchanged), and how many times each arm runs the
batch's source (a Python UDF counting rows into an accumulator)."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from data_ingestor_gluejob_script_spark import pipeline, streaming
from data_ingestor_gluejob_script_spark.pipeline import (
    write_partitioned_upsert,
    write_partitioned_upsert_bucketed,
)
from data_ingestor_gluejob_script_spark.registry import CATALOG
from data_ingestor_gluejob_script_spark.watermarks import WatermarkStore

SUBS = CATALOG["retail_subscriptions"]
TABLE = "t_batch_eval_lake"
ARMS = pytest.mark.parametrize(
    "broadcast_batch", [True, False], ids=["broadcast", "sort_merge"]
)


def _row(id, created, status="active"):
    base = {c: f"x_{c}" for c in SUBS.columns}
    base.update(id=id, created_at=created, updated_at=created, status=status)
    return base


BASE = [
    _row("s1", "2024-01-10 10:00:00"),
    _row("s2", "2024-02-05 09:30:00"),
]
# s1 updated in place, s3 and s4 new — three partitions touched
DAY = [
    _row("s1", "2024-01-10 10:00:00", "canceled"),
    _row("s3", "2024-03-01 08:00:00"),
    _row("s4", "2024-04-02 08:00:00"),
]


def _batch(spark, rows):
    schema = StructType([StructField(c, StringType()) for c in SUBS.columns])
    return spark.createDataFrame(
        [tuple(r[c] for c in SUBS.columns) for r in rows], schema
    )


def _persisted(spark) -> set:
    """Ids of the persisted RDDs. Spark holds this map with weak
    values, so a JVM GC during a test drops RDDs that earlier tests
    left unreachable; a test checks that no id outside its starting
    set remains, not that the count is unchanged."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _listing(root: str) -> dict:
    """Every file under ``root`` with its size and mtime."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (
                st.st_size,
                st.st_mtime_ns,
            )
    return out


@pytest.fixture()
def lake(spark, tmp_path):
    root = str(tmp_path / "lake")
    write_partitioned_upsert(spark, _batch(spark, BASE), SUBS, root)
    return root


@pytest.fixture()
def clean_table(spark):
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    yield
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


@ARMS
def test_empty_batch_skips_and_leaves_lake(spark, lake, broadcast_batch):
    before, cached = _listing(lake), _persisted(spark)
    n = write_partitioned_upsert(
        spark, _batch(spark, []), SUBS, lake, broadcast_batch=broadcast_batch
    )
    assert n == 0
    assert _listing(lake) == before
    assert _persisted(spark) <= cached


@ARMS
def test_empty_batch_with_delete_keys_raises(spark, lake, broadcast_batch):
    before, cached = _listing(lake), _persisted(spark)
    keys = spark.createDataFrame([("s1",)], "id string")
    with pytest.raises(ValueError, match="delete_keys requires"):
        write_partitioned_upsert(
            spark,
            _batch(spark, []),
            SUBS,
            lake,
            delete_keys=keys,
            delete_touched=[(2024, 1)],
            broadcast_batch=broadcast_batch,
        )
    assert _listing(lake) == before
    assert _persisted(spark) <= cached


@ARMS
def test_null_id_batch_raises_and_leaves_lake(spark, lake, broadcast_batch):
    before, cached = _listing(lake), _persisted(spark)
    rows = DAY + [_row(None, "2024-05-01 08:00:00")]
    with pytest.raises(ValueError, match="NULL id"):
        write_partitioned_upsert(
            spark,
            _batch(spark, rows),
            SUBS,
            lake,
            broadcast_batch=broadcast_batch,
        )
    assert _listing(lake) == before
    assert _persisted(spark) <= cached


def test_failing_write_releases_cached_batch(spark, tmp_path):
    """The lake root sits under a regular file, so the merge's write
    fails after the batch was evaluated and cached."""
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("x")
    cached = _persisted(spark)
    with pytest.raises(Exception):
        write_partitioned_upsert(
            spark, _batch(spark, DAY), SUBS, str(blocker), broadcast_batch=True
        )
    assert _persisted(spark) <= cached


def test_successful_write_releases_cached_batch(spark, lake):
    cached = _persisted(spark)
    n = write_partitioned_upsert(spark, _batch(spark, DAY), SUBS, lake)
    assert n == 3  # the touched partitions hold s1, s3, s4
    assert _persisted(spark) <= cached
    got = {
        r.id: r.status
        for r in spark.read.parquet(
            pipeline.lake_table_root(lake, SUBS.name)
        ).collect()
    }
    assert got == {
        "s1": "canceled", "s2": "active", "s3": "active", "s4": "active"
    }


def test_streaming_upsert_releases_cached_batches(spark, tmp_path):
    """Three micro-batches (one CSV drop per resumed run) through the
    streaming sink leave no persisted RDD behind."""
    src = str(tmp_path / "drops")
    os.makedirs(src)
    lake_root = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    store = WatermarkStore(
        str(tmp_path / "wm.json"), [SUBS.name], now=datetime(2024, 5, 1)
    )
    cached = _persisted(spark)
    for i, r in enumerate(DAY):
        with open(os.path.join(src, f"drop{i}.csv"), "w") as f:
            f.write(";".join(SUBS.columns) + "\n")
            f.write(";".join(r[c] for c in SUBS.columns) + "\n")
        q = streaming.stream_incremental_upsert(
            spark, src, SUBS, lake_root, store, ckpt, t0="2024-05-01 04:00:00"
        )
        q.awaitTermination()
    assert q.lastProgress["batchId"] == 2
    assert _persisted(spark) <= cached
    got = spark.read.parquet(pipeline.lake_table_root(lake_root, SUBS.name))
    assert {r.id for r in got.select("id").collect()} == {"s1", "s3", "s4"}


def _counted_batch(spark, rows):
    """The batch with its ``status`` column routed through a Python UDF
    that adds 1 to an accumulator per row it evaluates."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tick(v):
        acc.add(1)
        return v

    return _batch(spark, rows).withColumn("status", tick("status")), acc


@ARMS
def test_hive_writer_batch_evaluations(spark, lake, broadcast_batch):
    batch, acc = _counted_batch(spark, DAY)
    write_partitioned_upsert(
        spark, batch, SUBS, lake, broadcast_batch=broadcast_batch
    )
    if broadcast_batch:
        assert acc.value == len(DAY)
    else:
        assert len(DAY) <= acc.value <= 2 * len(DAY)


def test_bucketed_writer_evaluates_broadcast_batch_once(spark, clean_table):
    write_partitioned_upsert_bucketed(
        spark, _batch(spark, BASE), SUBS, TABLE, num_buckets=4
    )
    batch, acc = _counted_batch(spark, DAY)
    cached = _persisted(spark)
    n = write_partitioned_upsert_bucketed(
        spark, batch, SUBS, TABLE, num_buckets=4, broadcast_batch=True
    )
    assert n == 3  # the touched partitions hold s1, s3, s4
    assert acc.value == len(DAY)
    assert _persisted(spark) <= cached


def test_bucketed_writer_empty_batch_skips(spark, clean_table):
    cached = _persisted(spark)
    n = write_partitioned_upsert_bucketed(
        spark, _batch(spark, []), SUBS, TABLE, num_buckets=4
    )
    assert n == 0
    assert not spark.catalog.tableExists(TABLE)
    assert _persisted(spark) <= cached
