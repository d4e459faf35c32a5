"""merge_upsert == upsert_dedup, row for row — and the plan claims:
the lake side of the join formulation carries no Exchange when the
incoming batch broadcasts, and none either under sort-merge when the
lake is bucketed+sorted on the id (the 100-TB upsert layout answer,
measured at sf10/sf100 in SCALE.md "Round-13: join-formulated upsert
+ bucketed lake")."""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from data_ingestor_gluejob_script_spark.operators.upsert import (
    merge_upsert,
    upsert_dedup,
)
from data_ingestor_gluejob_script_spark.pipeline import write_bucketed


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _n_shuffles(plan: str) -> int:
    """Count shuffle Exchange tree nodes in a formatted plan (the node
    line is 'Exchange (n)'; BroadcastExchange intentionally excluded)."""
    return len(re.findall(r"(?<![A-Za-z])Exchange \(\d+\)", plan))


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


SCHEMA = "k int, grp string, val double"
# Duplicate keys on both sides, null keys on both sides, null values,
# keys unique to each side — every branch of the precedence contract.
INCOMING = [
    (1, "inc", 9.0),
    (1, "inc", 3.0),  # within-incoming dup: min val wins
    (2, "inc", None),  # null value ordered last within its key
    (2, "inc", 5.0),
    (None, "inc", 7.0),  # null key: must collide with existing null key
    (10, "inc", 1.0),  # incoming-only key
]
EXISTING = [
    (1, "ex", 0.5),  # loses to incoming despite smaller val
    (2, "ex", 0.1),
    (3, "ex", 4.0),
    (3, "ex", 2.0),  # within-existing dup
    (None, "ex", 0.0),  # null key: shadowed by incoming's null key
    (20, "ex", 6.0),  # existing-only key
]


@pytest.mark.parametrize("broadcast", [True, False])
def test_merge_upsert_equals_window_upsert(spark, broadcast):
    inc = spark.createDataFrame(INCOMING, SCHEMA)
    ex = spark.createDataFrame(EXISTING, SCHEMA)
    want = _rows(upsert_dedup(inc, ex, "k"))
    got = _rows(merge_upsert(inc, ex, "k", broadcast_incoming=broadcast))
    assert got == want
    # exactly one row per key, null key included
    keys = [r[0] for r in got]
    assert len(keys) == len(set(keys))


def test_merge_upsert_multi_column_key(spark):
    inc = spark.createDataFrame(
        [(1, "a", 1.0), (1, None, 2.0), (2, "b", 3.0)], SCHEMA
    )
    ex = spark.createDataFrame(
        [(1, "a", 9.0), (1, None, 8.0), (3, "c", 7.0), (2, "z", 6.0)], SCHEMA
    )
    want = _rows(upsert_dedup(inc, ex, ["k", "grp"]))
    got = _rows(merge_upsert(inc, ex, ["k", "grp"]))
    assert got == want


def test_merge_upsert_skip_windows_when_unique(spark):
    inc = spark.createDataFrame([(1, "inc", 1.0), (9, "inc", 2.0)], SCHEMA)
    ex = spark.createDataFrame([(1, "ex", 5.0), (2, "ex", 6.0)], SCHEMA)
    out = merge_upsert(inc, ex, "k", dedup_within=False)
    assert _rows(out) == _rows(upsert_dedup(inc, ex, "k"))
    assert "Window" not in _plan(out)


def test_broadcast_arm_dedup_window_is_the_only_shuffle(spark):
    """The writer's shape for a batch with duplicate ids (broadcast,
    plain-equality keys, a unique lake): the anti join's keys come from
    the batch itself, so the batch's dedup window is the one hash
    Exchange. Built from the windowed frame, the keys side carried an
    inferred isnotnull(k) that kept Spark from reusing the window's
    exchange, and the plan held two."""
    inc = spark.createDataFrame(
        [r for r in INCOMING if r[0] is not None], SCHEMA
    )
    # a lake this writer made: no duplicate and no NULL key
    ex = spark.createDataFrame(
        [r for r in EXISTING if r[0] is not None and r != (3, "ex", 4.0)],
        SCHEMA,
    )
    out = merge_upsert(
        inc, ex, "k", existing_unique=True, keys_nullable=False
    )
    assert _n_shuffles(_plan(out)) == 1
    assert _rows(out) == _rows(upsert_dedup(inc, ex, "k"))


def test_broadcast_arm_never_shuffles_existing(spark):
    """Daily-increment shape: with the incoming keys broadcast and the
    lake already unique per key, the lake branch is scan→anti-join→
    union — zero hash Exchanges anywhere in the plan."""
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    incoming = orders.filter(F.col("o_orderdate") >= "1997-01-01").withColumn(
        "o_totalprice", F.lit(0.0)
    )
    out = merge_upsert(incoming, orders, "o_orderkey", dedup_within=False)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert _n_shuffles(plan) == 0
    assert _rows(out) == _rows(upsert_dedup(incoming, orders, "o_orderkey"))


def test_bucketed_lake_smj_arm_exchange_free_on_lake_side(spark):
    """Backfill shape (incoming too big to broadcast): with the lake
    bucketed+sorted on the id, the lake's window AND its anti-join side
    reuse the bucket layout — the only hash Exchanges left in the plan
    are the incoming batch's. Verified by exchange-count delta vs the
    unbucketed plan and by the bucketed scan node."""
    sf = "/root/testdata/sf0.001"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS t_upsert_lake")
    shutil.rmtree(os.path.join(warehouse, "t_upsert_lake"), ignore_errors=True)
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    write_bucketed(orders, "t_upsert_lake", ["o_orderkey"], 4, ["o_orderkey"])
    lake = spark.table("t_upsert_lake")
    incoming = orders.filter(F.col("o_orderdate") >= "1997-01-01").withColumn(
        "o_totalprice", F.lit(0.0)
    )

    bucketed = merge_upsert(
        incoming,
        lake,
        "o_orderkey",
        broadcast_incoming=False,
        keys_nullable=False,
    )
    plan_b = _plan(bucketed)
    assert "Bucketed: true" in plan_b
    assert "SortMergeJoin" in plan_b and "LeftAnti" in plan_b
    # The lake's WINDOW runs straight off the bucketed scan — no
    # Exchange between the lake scan line and the Window above it.
    # (The SMJ may still align the lake to the other side's partition
    # COUNT — the operator docstring's caveat; the contract plan below
    # is where the lake side goes fully Exchange-free.)
    tree_section = plan_b.split("\n\n", 1)[0].splitlines()
    tree = [
        ln
        for ln in tree_section
        if "Scan parquet" in ln
        or re.search(r"(?<![A-Za-z])(Window|Exchange) \(\d+\)", ln)
    ]
    scan_i = next(
        i for i, ln in enumerate(tree) if "t_upsert_lake" in ln
    )
    between = []
    for ln in reversed(tree[:scan_i]):
        if re.search(r"Window \(\d+\)", ln):
            break
        between.append(ln)
    assert not any("Exchange" in ln for ln in between), between
    assert _rows(bucketed) == _rows(
        upsert_dedup(incoming, orders, "o_orderkey")
    )

    # Unique-per-key lake (this engine's write contract): no windows
    # at all — the ONLY shuffle left in the whole plan is incoming's.
    lean = merge_upsert(
        incoming,
        lake,
        "o_orderkey",
        dedup_within=False,
        broadcast_incoming=False,
        keys_nullable=False,
    )
    assert _n_shuffles(_plan(lean)) == 1
    assert _rows(lean) == _rows(upsert_dedup(incoming, orders, "o_orderkey"))
    spark.sql("DROP TABLE IF EXISTS t_upsert_lake")


def test_keys_nullable_false_requires_nullsafe_key_for_bucketing(spark):
    """The PK-contract arm equals the window upsert whenever keys are
    in fact non-null (here: dup keys within both sides, none null)."""
    inc = spark.createDataFrame(
        [r for r in INCOMING if r[0] is not None], SCHEMA
    )
    ex = spark.createDataFrame(
        [r for r in EXISTING if r[0] is not None], SCHEMA
    )
    for bcast in (True, False):
        got = _rows(
            merge_upsert(
                inc, ex, "k", broadcast_incoming=bcast, keys_nullable=False
            )
        )
        assert got == _rows(upsert_dedup(inc, ex, "k"))
