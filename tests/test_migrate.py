"""Tests for the one-time digest backfill (migrate.py): a legacy lake
written under the pre-sentinel digest conventions is upgraded in place
— only stale files rewritten, untouched files byte-identical, replays
against the upgraded lake append nothing, and the tool is idempotent.
Its crash windows are also in tests/test_journal.py's fault matrix."""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from data_ingestor_gluejob_script_spark import journal, streaming  # noqa: E402
from data_ingestor_gluejob_script_spark.migrate import (  # noqa: E402
    backfill_digest_column,
    backfill_doc_dedup_lake,
    backfill_image_lake,
)
from data_ingestor_gluejob_script_spark.operators.diff import (  # noqa: E402
    row_digest,
)

DOCS = [
    (1, "alpha beta gamma"),
    (2, "delta epsilon"),
    (3, None),        # legacy digest md5('') — the migration target
    (4, ""),          # legacy digest md5('') — must stay md5('')
    (5, "zeta eta theta"),
]


def _legacy_doc_lake(spark, lake_dir: str):
    """Write a doc-dedup lake the way the PRE-sentinel ingest did
    (text_md5 = md5(coalesce(text, ''))), as two separate appends so
    the null-text row is isolated in its own file set."""
    legacy_digest = F.md5(F.coalesce(F.col("text"), F.lit("")))
    clean = spark.createDataFrame(
        [d for d in DOCS if d[1] is not None], "doc_id long, text string"
    ).withColumn("text_md5", legacy_digest)
    dirty = spark.createDataFrame(
        [d for d in DOCS if d[1] is None], "doc_id long, text string"
    ).withColumn("text_md5", legacy_digest)
    clean.coalesce(1).write.mode("append").parquet(lake_dir)
    dirty.coalesce(1).write.mode("append").parquet(lake_dir)


def _file_bytes(lake_dir: str) -> dict:
    return {
        p.name: p.read_bytes()
        for p in Path(lake_dir).glob("*.parquet")
    }


def test_doc_backfill_rewrites_only_stale_files(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _legacy_doc_lake(spark, lake)
    before = _file_bytes(lake)

    res = backfill_doc_dedup_lake(spark, lake)
    assert res == {"files": 1, "rows": 1}

    after = _file_bytes(lake)
    # the clean file survived byte-identical under its original name
    untouched = set(before) & set(after)
    assert untouched  # the clean-rows file
    for name in untouched:
        assert before[name] == after[name]

    got = spark.read.parquet(lake)
    assert got.count() == len(DOCS)
    # every digest now matches the current convention, including the
    # null-text sentinel ≠ md5('') == empty-text digest
    assert (
        got.filter(~F.col("text_md5").eqNullSafe(row_digest(["text"]))).count()
        == 0
    )
    rows = {r["doc_id"]: r["text_md5"] for r in got.collect()}
    assert rows[3] != rows[4]  # null and empty no longer collide

    # idempotent: a second run touches nothing
    assert backfill_doc_dedup_lake(spark, lake) == {"files": 0, "rows": 0}
    assert _file_bytes(lake) == after


@pytest.mark.slow
def test_doc_backfill_makes_replay_append_nothing(spark, tmp_path):
    """The actual bug the migration fixes: replaying the source
    against a legacy lake double-ingests the null-text row; after the
    backfill the replay is a no-op."""
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(src)

    # negative control — UN-backfilled legacy lake double-ingests
    legacy = str(tmp_path / "legacy_lake")
    _legacy_doc_lake(spark, legacy)
    q = streaming.run_doc_dedup_ingest(
        spark, src, legacy, str(tmp_path / "ckpt_neg")
    )
    q.awaitTermination(120)
    assert spark.read.parquet(legacy).count() == len(DOCS) + 1  # dup!

    # backfilled lake absorbs the replay
    lake = str(tmp_path / "lake")
    _legacy_doc_lake(spark, lake)
    backfill_doc_dedup_lake(spark, lake)
    q2 = streaming.run_doc_dedup_ingest(
        spark, src, lake, str(tmp_path / "ckpt_pos")
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(lake).count() == len(DOCS)


@pytest.mark.parametrize("crash_after", ["stage", "delete"])
def test_backfill_crash_windows_resume(
    spark, tmp_path, journal_crash, crash_after
):
    """Crashes just after the commit point (the corrected file staged,
    the manifest published) and at the stale file's delete: the rerun
    resumes the journal's commit, and the lake ends complete and
    convention-correct with no duplicate rows."""
    probe = str(tmp_path / "probe")
    _legacy_doc_lake(spark, probe)
    calls = journal_crash(None)
    backfill_digest_column(spark, probe, "text_md5", row_digest(["text"]))
    committed = calls.index("rename") + 1  # the manifest's rename
    victim_delete = calls.index("delete", calls.index("rename", committed) + 1)
    crash_at = {"stage": committed, "delete": victim_delete}[crash_after]

    lake = str(tmp_path / "lake")
    _legacy_doc_lake(spark, lake)
    journal_crash(crash_at)
    with pytest.raises(RuntimeError, match="crash at call"):
        backfill_digest_column(
            spark, lake, "text_md5", row_digest(["text"])
        )
    journal_crash(None)
    res = backfill_digest_column(
        spark, lake, "text_md5", row_digest(["text"])
    )
    assert res["resumed"] is True and res["rows"] == 1
    got = spark.read.parquet(lake)
    assert got.count() == len(DOCS)
    assert got.select("doc_id").distinct().count() == len(DOCS)
    assert (
        got.filter(~F.col("text_md5").eqNullSafe(row_digest(["text"]))).count()
        == 0
    )
    # the journal is gone; a further run is a clean no-op
    assert not Path(journal.staging(lake)).parent.exists()
    assert backfill_digest_column(
        spark, lake, "text_md5", row_digest(["text"])
    ) == {"files": 0, "rows": 0}


def test_image_lake_backfill_null_payload_sentinel(spark, tmp_path):
    """Image-twin wrapper: legacy rows digested NULL payloads as
    md5(b'') — indistinguishable from a genuinely empty payload. The
    backfill moves null-payload rows to the sentinel; empty-payload
    rows keep md5(b'')."""
    lake = str(tmp_path / "media_lake")
    legacy_digest = F.md5(F.coalesce(F.col("payload"), F.lit(b"")))
    spark.createDataFrame(
        [(1, b"\x01\x02"), (2, b""), (3, None)],
        "doc_id long, payload binary",
    ).withColumn("payload_md5", legacy_digest).write.parquet(lake)

    res = backfill_image_lake(spark, lake)
    assert res["rows"] == 1
    rows = {r["doc_id"]: r["payload_md5"] for r in spark.read.parquet(lake).collect()}
    assert rows[2] != rows[3]  # empty vs null now distinct
    assert rows[3] == streaming._NULL_PAYLOAD_DIGEST
    import hashlib

    assert rows[2] == hashlib.md5(b"").hexdigest()


def test_backfill_rejects_partitioned_lake(spark, tmp_path):
    """A hive-partitioned lake stores partition values in directory
    names; the file-scoped rewrite would drop them and must refuse."""
    lake = str(tmp_path / "part_lake")
    spark.createDataFrame(
        [(1, "a", 2024), (2, None, 2025)],
        "doc_id long, text string, year int",
    ).withColumn(
        "text_md5", F.md5(F.coalesce(F.col("text"), F.lit("")))
    ).write.partitionBy("year").parquet(lake)
    with pytest.raises(ValueError, match="partitioned"):
        backfill_digest_column(
            spark, lake, "text_md5", row_digest(["text"])
        )


def test_backfill_discards_precommit_staging_leftovers(spark, tmp_path):
    """A crash BEFORE the manifest write leaves a staging dir with no
    commit point; the next run must discard it, not replay it."""
    lake = str(tmp_path / "lake")
    _legacy_doc_lake(spark, lake)
    backfill_doc_dedup_lake(spark, lake)  # lake now clean
    staging = journal.staging(lake)
    Path(staging).mkdir(parents=True)
    (Path(staging) / "part-stale.parquet").write_bytes(b"junk")
    assert backfill_doc_dedup_lake(spark, lake) == {"files": 0, "rows": 0}
    assert not Path(staging).exists()
