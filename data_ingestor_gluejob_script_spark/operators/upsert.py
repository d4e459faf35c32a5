"""Upsert / keyed-dedup-with-precedence (O6+O7) — the one operator
where naive translation silently corrupts data.

Reference semantics (gluejob.py:196-198): ``concat([incoming,
existing])`` then ``drop_duplicates(subset=[id], keep='first')`` —
order-dependent: incoming rows beat existing rows on PK collision.
Spark's union has NO row order and bare ``dropDuplicates([id])`` picks
a nondeterministic winner, so precedence must be explicit: tag each
side with a precedence rank, take ``row_number() == 1`` per key
ordered by that rank.

Scale notes (100 TB): ``upsert_dedup``'s window shuffles the union of
both sides once on the id column. The lake writer (pipeline.py) runs
``merge_upsert`` instead, over only the (year, month) partitions
present in the incoming batch; on a daily increment its lake side is
the streamed side of a broadcast anti join and never shuffles.
"""

from __future__ import annotations

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


def merge_upsert(
    incoming: DataFrame,
    existing: DataFrame | None,
    id_col: str,
    *,
    dedup_within: bool,
    broadcast_incoming: bool,
) -> DataFrame:
    """Join-formulated upsert: ``dedup(incoming) UNION (existing ANTI
    JOIN incoming-ids)``, row-for-row equal to ``upsert_dedup`` when
    ``existing`` keeps the lake's contract: one row per id and no NULL
    id. The lake writer keeps that contract: its merge writes one row
    per id, and its NULL-id guard (``pipeline._evaluated_batch``) runs
    on every write. So the existing side is never windowed and the
    anti join uses plain equality. ``incoming`` may carry duplicate
    and NULL ids.

    ``upsert_dedup``'s window shuffles the union of both sides. Here,
    on the broadcast arm, the existing side never shuffles: it is only
    the streamed side of the anti join.

    - ``dedup_within``: window ``incoming`` to one row per id, with
      ``upsert_dedup``'s tie-break inside a side (value columns
      ascending, NULLs last). Pass False only for a batch whose ids are
      known unique (the writer learns it from its batch evaluation);
      the broadcast arm then runs no shuffle at all.
    - ``broadcast_incoming``: True broadcasts the batch's ids (a daily
      increment: scan → BroadcastHashJoin(LeftAnti) → union); False
      forces a sort-merge anti join (a backfill too big to broadcast).
      Both are hints, so the plan follows the flag, not Spark's size
      estimate.

    The anti join's keys come from ``incoming`` itself, not from the
    windowed frame: a left anti join ignores duplicate build rows and
    the key set is the same, so the window, when it runs, shuffles
    once (an inferred ``isnotnull(id)`` on a windowed keys side stops
    Spark reusing its exchange), and on the sort-merge arm the keys
    side shuffles only the ids.

    ``existing=None`` (no lake yet) returns the incoming side alone,
    windowed iff ``dedup_within``.
    """
    value_cols = [c for c in incoming.columns if c != id_col]
    inc = incoming
    if dedup_within:
        w = Window.partitionBy(id_col).orderBy(
            *[F.col(c).asc_nulls_last() for c in value_cols]
        )
        inc = (
            incoming.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    if existing is None:
        return inc
    keys = incoming.select(F.col(id_col).alias(f"_mk_{id_col}"))
    keys = F.broadcast(keys) if broadcast_incoming else keys.hint("merge")
    survivors = existing.join(
        keys, existing[id_col] == keys[f"_mk_{id_col}"], "left_anti"
    )
    return inc.unionByName(survivors).select(*incoming.columns)
