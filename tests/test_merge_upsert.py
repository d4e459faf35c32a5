"""merge_upsert == upsert_dedup, row for row, over an existing side
that keeps the lake's contract (one row per id, no NULL id) — and the
plan claims: the batch's dedup window is the broadcast arm's only
shuffle, and the lake side never shuffles when the incoming batch
broadcasts."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from data_ingestor_gluejob_script_spark.operators.upsert import (
    merge_upsert,
    upsert_dedup,
)


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
# Duplicate and NULL keys in the batch, null values, keys unique to
# each side — every branch of the precedence contract.
INCOMING = [
    (1, "inc", 9.0),
    (1, "inc", 3.0),  # within-incoming dup: min val wins
    (2, "inc", None),  # null value ordered last within its key
    (2, "inc", 5.0),
    (None, "inc", 7.0),  # null key: kept once, no lake row to collide
    (None, "inc", 8.0),
    (10, "inc", 1.0),  # incoming-only key
]
# A lake this writer made: unique per key, no NULL key.
EXISTING = [
    (1, "ex", 0.5),  # loses to incoming despite smaller val
    (2, "ex", 0.1),
    (3, "ex", 2.0),  # existing-only keys
    (20, "ex", 6.0),
]
# INCOMING with one row per key, the shape dedup_within=False is for.
INCOMING_UNIQUE = [INCOMING[i] for i in (1, 3, 4, 6)]


@pytest.mark.parametrize(
    "broadcast,dedup_within,incoming",
    [
        pytest.param(True, True, INCOMING, id="True"),
        pytest.param(False, True, INCOMING, id="False"),
        pytest.param(True, False, INCOMING_UNIQUE, id="True-unique"),
        pytest.param(False, False, INCOMING_UNIQUE, id="False-unique"),
    ],
)
def test_merge_upsert_equals_window_upsert(
    spark, broadcast, dedup_within, incoming
):
    """The four configurations the lake writer can pick: the window
    runs unless the batch's ids are unique, and the batch broadcasts
    unless it is a backfill."""
    inc = spark.createDataFrame(incoming, SCHEMA)
    ex = spark.createDataFrame(EXISTING, SCHEMA)
    want = _rows(upsert_dedup(inc, ex, "k"))
    got = _rows(
        merge_upsert(
            inc,
            ex,
            "k",
            dedup_within=dedup_within,
            broadcast_incoming=broadcast,
        )
    )
    assert got == want
    # exactly one row per key, null key included
    keys = [r[0] for r in got]
    assert len(keys) == len(set(keys))


@pytest.mark.parametrize("dedup_within", [True, False])
def test_merge_upsert_without_lake_is_the_batch(spark, dedup_within):
    """No lake yet (``existing=None``): the batch alone, windowed iff
    ``dedup_within``."""
    rows = INCOMING if dedup_within else INCOMING_UNIQUE
    inc = spark.createDataFrame(rows, SCHEMA)
    out = merge_upsert(
        inc, None, "k", dedup_within=dedup_within, broadcast_incoming=True
    )
    assert _rows(out) == _rows(upsert_dedup(inc, None, "k"))
    assert ("Window" in _plan(out)) == dedup_within


def test_merge_upsert_skip_windows_when_unique(spark):
    inc = spark.createDataFrame([(1, "inc", 1.0), (9, "inc", 2.0)], SCHEMA)
    ex = spark.createDataFrame([(1, "ex", 5.0), (2, "ex", 6.0)], SCHEMA)
    out = merge_upsert(
        inc, ex, "k", dedup_within=False, broadcast_incoming=True
    )
    assert _rows(out) == _rows(upsert_dedup(inc, ex, "k"))
    assert "Window" not in _plan(out)


def test_broadcast_arm_dedup_window_is_the_only_shuffle(spark):
    """The writer's shape for a batch with duplicate ids (broadcast, a
    unique lake): the anti join's keys come from the batch itself, so
    the batch's dedup window is the one hash Exchange. Built from the windowed frame, the keys side carried an
    inferred isnotnull(k) that kept Spark from reusing the window's
    exchange, and the plan held two."""
    inc = spark.createDataFrame(
        [r for r in INCOMING if r[0] is not None], SCHEMA
    )
    ex = spark.createDataFrame(EXISTING, SCHEMA)
    out = merge_upsert(
        inc, ex, "k", dedup_within=True, broadcast_incoming=True
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
    out = merge_upsert(
        incoming,
        orders,
        "o_orderkey",
        dedup_within=False,
        broadcast_incoming=True,
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert _n_shuffles(plan) == 0
    assert _rows(out) == _rows(upsert_dedup(incoming, orders, "o_orderkey"))
