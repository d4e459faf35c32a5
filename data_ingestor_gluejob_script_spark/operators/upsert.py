"""Upsert / keyed-dedup-with-precedence (O6+O7) — the one operator
where naive translation silently corrupts data.

Reference semantics (gluejob.py:196-198): ``concat([incoming,
existing])`` then ``drop_duplicates(subset=[id], keep='first')`` —
order-dependent: incoming rows beat existing rows on PK collision.
Spark's union has NO row order and bare ``dropDuplicates([id])`` picks
a nondeterministic winner, so precedence must be explicit: tag each
side with a precedence rank, take ``row_number() == 1`` per key
ordered by that rank.

Scale notes (100 TB): the window shuffles once on the id column —
same cost as any keyed dedup. Hot keys are handled by AQE skew
splitting; for pathological skew pre-salt the window key. The
partition-scoped variant in pipeline.py only touches (year,month)
partitions present in the incoming batch, so a daily increment never
rewrites the whole lake.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PRECEDENCE_COL = "_src_precedence"


def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """O6 (gluejob.py:197) — by-name union, no dedup. Order is NOT
    significant in Spark; when precedence matters use upsert_dedup."""
    return a.unionByName(b)


def upsert_dedup(
    incoming: DataFrame,
    existing: DataFrame | None,
    id_cols: list[str] | str,
) -> DataFrame:
    """O6+O7: union with explicit precedence, keep exactly one row per
    key, incoming wins (gluejob.py:196-198).

    Deterministic replacement for the reference's order-dependent
    ``keep='first'``. Ties *within* a side are broken by a stable
    ordering over all non-key columns so the result is reproducible
    run-to-run (the reference inherits whatever order the source
    emitted; any single row per key is semantics-preserving, but
    determinism is required for the differential oracle).
    """
    if isinstance(id_cols, str):
        id_cols = [id_cols]
    tagged = incoming.withColumn(PRECEDENCE_COL, F.lit(0))
    if existing is not None:
        tagged = tagged.unionByName(existing.withColumn(PRECEDENCE_COL, F.lit(1)))
    value_cols = [c for c in incoming.columns if c not in id_cols]
    w = Window.partitionBy(*id_cols).orderBy(
        F.col(PRECEDENCE_COL), *[F.col(c).asc_nulls_last() for c in value_cols]
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", PRECEDENCE_COL)
    )


def _dedup_within(df: DataFrame, id_cols: list[str], value_cols: list[str]) -> DataFrame:
    """One row per key within a single side, using the SAME stable
    ordering upsert_dedup applies inside a precedence class — so the
    two formulations pick identical winners."""
    w = Window.partitionBy(*id_cols).orderBy(
        *[F.col(c).asc_nulls_last() for c in value_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(
    incoming: DataFrame,
    existing: DataFrame,
    id_cols: list[str] | str,
    *,
    dedup_within: bool = True,
    existing_unique: bool = False,
    broadcast_incoming: bool = True,
    keys_nullable: bool = True,
) -> DataFrame:
    """Join-formulated upsert, row-for-row equal to ``upsert_dedup``:
    ``dedup(incoming)  UNION  (dedup(existing) ANTI JOIN incoming-keys)``.

    Same semantics (incoming wins per key, ties within a side broken by
    the same stable value ordering, null keys collide like the window's
    null-grouping via null-safe join keys) but a 100-TB-shaped plan:
    ``upsert_dedup``'s window must hash-shuffle the UNION of both sides
    — i.e. the whole lake — every run, because Spark's UnionExec
    reports unknown partitioning even when both children are bucketed.
    Here the lake side is only ever the null-stream of an anti join:

    - ``broadcast_incoming=True`` (a daily increment): the lake NEVER
      shuffles — scan → BroadcastHashJoin(LeftAnti) → union, a map-only
      plan on the big side regardless of layout.
    - ``broadcast_incoming=False`` (a backfill too big to broadcast):
      sort-merge anti join; with the lake bucketed+sorted on the id
      (pipeline.write_bucketed) its side has NO Exchange and NO Sort —
      only the incoming batch shuffles.
    - ``dedup_within=True`` adds a per-side window; over a bucketed
      lake scan that window is Exchange-free (the scan's hash
      partitioning satisfies the window's clustering). Caveat pinned
      by tests/test_merge_upsert.py: the downstream SMJ then aligns
      partition COUNTS, so unless the bucket count equals the other
      side's shuffle partition count (AQE's initialPartitionNum here)
      an alignment Exchange of the lake reappears above the window.
      The contract plan is ``dedup_within=False`` — the lake written
      by this very operator is always unique per key — where the
      windows vanish and EnsureRequirements shuffles only the incoming
      side, conforming it to the lake's bucket count.
      ``existing_unique=True`` is the asymmetric middle: the incoming
      batch still gets its window (a re-extraction can carry duplicate
      ids) but the lake side skips its own — the scoped lake read of
      pipeline.write_partitioned_upsert is unique per key by that
      writer's own contract. The writer also drives ``dedup_within``
      from its input: where the batch's evaluation pass proved the ids
      unique (a daily increment almost always is) it passes False and
      the broadcast arm runs no shuffle at all; a batch that does
      carry a duplicate id keeps the window.
    - The anti join's key side is always ``incoming``'s id columns,
      never the windowed frame: the key set is the same, so the window
      (when it runs) shuffles once, and the sort-merge arm's key side
      shuffles only the ids.
    - ``keys_nullable=False`` is the PK contract: the anti join uses
      plain equality instead of null-safe equality. This matters for
      the bucketed arm specifically — Spark partitions a null-safe
      join key as ``(coalesce(k), isnull(k))``, which a table bucketed
      on ``k`` can never satisfy, so with nullable keys the lake's SMJ
      Exchange survives bucketing. A lake keyed by a real primary key
      (the only kind this engine writes) can assert non-null and get
      the Exchange-free layout plan; with actual null keys under this
      flag, existing-side null-key rows would always survive the anti
      join (SQL equality semantics) instead of colliding — hence the
      safe default.

    Measured at sf10/sf100 (SCALE.md "Round-13: join-formulated
    upsert + bucketed lake"); equality to upsert_dedup pinned by
    differential tests including duplicate and null keys on both
    sides.
    """
    if isinstance(id_cols, str):
        id_cols = [id_cols]
    value_cols = [c for c in incoming.columns if c not in id_cols]
    inc = (
        _dedup_within(incoming, id_cols, value_cols)
        if dedup_within
        else incoming
    )
    ex = (
        _dedup_within(existing, id_cols, value_cols)
        if dedup_within and not existing_unique
        else existing
    )
    # The keys come from the batch itself, not from the windowed
    # ``inc``: a left anti join ignores duplicate build rows and the
    # key set is the same (the window keeps one row per key, the NULL
    # key included), so the keys side never re-runs the window's
    # shuffle — an inferred isnotnull(id) on this side would stop
    # Spark reusing ``inc``'s exchange — and under sort-merge only the
    # id column shuffles.
    keys = incoming.select(*[F.col(c).alias(f"_mk_{c}") for c in id_cols])
    # The flag is a size declaration, so make the plan deterministic
    # both ways: True forces the broadcast, False forbids it (without
    # the merge hint Spark would auto-broadcast a small keys side and
    # the "too big to broadcast" arm could never be exercised/measured).
    keys = F.broadcast(keys) if broadcast_incoming else keys.hint("merge")
    cond = reduce(
        and_,
        [
            ex[c].eqNullSafe(keys[f"_mk_{c}"])
            if keys_nullable
            else ex[c] == keys[f"_mk_{c}"]
            for c in id_cols
        ],
    )
    survivors = ex.join(keys, cond, "left_anti")
    return inc.unionByName(survivors).select(*incoming.columns)
