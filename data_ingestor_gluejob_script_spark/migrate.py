"""One-time lake migrations — executable counterparts of the
"upgrading an existing lake needs a backfill" notes in streaming.py.

The round-10 convention changes (text: ``row_digest`` NULL sentinel
instead of ``md5(coalesce(text, ''))``; image: NULL-payload sentinel
instead of ``md5(b'')``) mean a lake written by the OLD convention
stores digests the NEW ingest will not reproduce: on replay, a
null-text/null-payload row no longer matches its stored digest and is
silently ingested a second time. ``backfill_digest_column`` rewrites
the stored digests under the current convention, touching only the
files that contain a stale row.

Scale shape (the ``pipeline.forget_rows`` playbook, applied to the
streaming ingest's UNPARTITIONED append layout — file-scoped instead
of partition-scoped, since appended parquet files are the layout's
natural rewrite unit):

- ONE scan finds the files holding any row whose stored digest
  differs from the current convention (``_metadata.file_path`` +
  null-safe comparison); a lake with no stale rows is read once and
  never written.
- Only those files are re-read and rewritten; untouched files — the
  overwhelming majority after the first run — stay byte-identical.
- The rewrite is staged and published through the lake-commit
  journal (``journal.py``): the corrected files replace the stale
  ones, and a crash at any point either leaves the lake untouched or
  resumes the commit on the next run. Mid-commit, a reader may see a
  stale file beside its corrected copy (transient duplicates), never
  a missing row.

No reference counterpart (gluejob.py has no digest state at all);
this is maintenance tooling for this engine's streaming-dedup
contract. Not driver-registered; tested in tests/test_migrate.py.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from . import journal
from .operators.diff import row_digest

log = logging.getLogger(__name__)


def backfill_digest_column(
    spark: SparkSession,
    lake_dir: str,
    digest_col: str,
    digest_expr: Column,
) -> dict:
    """Rewrite ``digest_col`` to ``digest_expr`` for every lake row
    whose stored value differs (null-safely) from the current
    convention, rewriting ONLY the files that contain such a row.
    Returns ``{"files": n_rewritten_files, "rows": n_changed_rows}``.
    Idempotent: a second run finds no mismatches and writes nothing;
    a run that finds a commit interrupted by a crash finishes it and
    returns its report with ``"resumed": True``. The lake
    must be an unpartitioned parquet directory (the streaming
    ingests' append layout) — hive-partitioned lakes store partition
    values in directory names, which a file-scoped rewrite would
    drop, and are rejected."""
    from .streaming import _data_file_statuses

    resumed = journal.recover(spark, lake_dir)
    if resumed is not None:
        log.info(
            "backfill_digest_column: resumed the rewrite of %d files "
            "in %s", resumed["files"], lake_dir,
        )
        return {**resumed, "resumed": True}

    lake = spark.read.parquet(lake_dir)
    if digest_col not in lake.columns:
        raise ValueError(
            f"backfill_digest_column: {lake_dir} has no column "
            f"{digest_col!r}"
        )
    tagged = lake.withColumn("_bf_file", F.col("_metadata.file_path"))
    stale = tagged.filter(
        ~F.col(digest_col).eqNullSafe(digest_expr)
    )
    victims = [r["_bf_file"] for r in stale.select("_bf_file").distinct().collect()]
    if not victims:
        return {"files": 0, "rows": 0}

    scoped = spark.read.parquet(*victims)
    if set(scoped.columns) != set(lake.columns):
        raise ValueError(
            "backfill_digest_column: file-scoped read lost columns "
            f"({sorted(set(lake.columns) - set(scoped.columns))}) — "
            "the lake appears hive-partitioned; this tool only "
            "handles the streaming ingests' unpartitioned layout"
        )
    n_rows = scoped.filter(
        ~F.col(digest_col).eqNullSafe(digest_expr)
    ).count()
    corrected = scoped.withColumn(digest_col, digest_expr).select(
        *lake.columns
    )
    corrected.write.mode("overwrite").parquet(journal.staging(lake_dir))
    report = {"files": len(victims), "rows": n_rows}
    journal.commit(
        spark,
        lake_dir,
        [n for n, _ in _data_file_statuses(spark, journal.staging(lake_dir))],
        # the lake is flat, so a victim's name is its path in the lake
        [v.rsplit("/", 1)[1] for v in victims],
        info=report,
    )
    log.info(
        "backfill_digest_column: rewrote %d rows across %d files in %s",
        n_rows, len(victims), lake_dir,
    )
    return report


def backfill_doc_dedup_lake(spark: SparkSession, lake_dir: str) -> dict:
    """The executable form of the migration note in
    ``run_doc_dedup_ingest`` (streaming.py): lakes written by the
    pre-sentinel convention stored ``text_md5 =
    md5(coalesce(text, ''))``, so null-text rows no longer match
    their digest under ``row_digest`` and would re-ingest on replay.
    Rewrites exactly those rows' digests (non-null text digests are
    identical under both conventions and their files stay
    byte-identical)."""
    return backfill_digest_column(
        spark, lake_dir, "text_md5", row_digest(["text"])
    )


def backfill_image_lake(
    spark: SparkSession, lake_dir: str, payload_col: str = "payload"
) -> dict:
    """Image-twin counterpart for ``run_image_dedup_ingest``'s CORPUS
    lake: pre-sentinel rows digested NULL payloads as ``md5(b'')``;
    rewrite them to the NULL sentinel. The SIGNATURE ledger stores no
    payload, so a dropped null-payload image's ledger row cannot be
    recomputed — after this backfill a replayed null-payload row
    re-ingests at most once (then its sentinel digest is ledgered),
    which is the best any payload-free state allows."""
    from .streaming import image_payload_digest

    return backfill_digest_column(
        spark, lake_dir, "payload_md5", image_payload_digest(payload_col)
    )
