"""Incremental tail compaction for the streaming source-of-truth
lakes (signature ledger + curated corpus) — r15 verdict #1. The band
lake heals by re-deriving from the signature lake; these lakes ARE
the truth, so compaction bin-packs ONLY the sub-target small-file
tail into target-sized files behind a scoped swap-manifest marker:
graduated (at-target) files are never re-read or rewritten, so
per-compaction cost is O(new data + one runt), never O(lake). Covers:
every crash window of the scoped protocol, the legacy whole-directory
marker, the incremental/uncapped properties, the recovery-aware
reader, the out-of-band seam, and the end-to-end ingest keeping both
lakes' file counts bounded while content and replay parity stay
exact."""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path
import pytest

import pyspark.sql.functions as F  # noqa: F401

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_ingestor_gluejob_script_spark import streaming  # noqa: E402
from data_ingestor_gluejob_script_spark.streaming import (  # noqa: E402
    _compact_append_lake,
    _data_file_statuses,
    _finish_scoped_swap,
    _lake_marker,
    _lake_staging,
    _recover_lake_swap,
    _write_swap_manifest,
    compact_append_lakes,
    read_append_lake,
    run_neardup_ingest,
)


def _write(spark, path, rows):
    spark.createDataFrame(rows, "x long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _append_one(spark, path, rows):
    spark.createDataFrame(rows, "x long").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _vals(spark, path):
    return sorted(r["x"] for r in spark.read.parquet(path).collect())


def _parquets(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _touch(path):
    open(path, "w").close()


def _staged_pack(spark, lake):
    """Perform step 1 of the protocol by hand: pack the lake's current
    small files into staging; return (small_names, staged_names)."""
    small = _parquets(lake)
    spark.read.parquet(*[f"{lake}/{n}" for n in small]).repartition(
        1
    ).write.mode("overwrite").parquet(_lake_staging(lake))
    return small, _parquets(_lake_staging(lake))


def test_recover_scoped_swap_every_crash_window(spark, tmp_path):
    lake = str(tmp_path / "lake")

    # window 0: nothing pending — recovery is a no-op
    _write(spark, lake, [(1,), (2,)])
    _append_one(spark, lake, [(3,)])
    _recover_lake_swap(spark, lake)
    assert _vals(spark, lake) == [1, 2, 3]

    # window 1: crash DURING the staging pack (no marker yet) — the
    # lake is authoritative, the orphan staging is dropped
    _staged_pack(spark, lake)
    _recover_lake_swap(spark, lake)
    assert _vals(spark, lake) == [1, 2, 3]
    assert not os.path.exists(_lake_staging(lake))

    # window 2: crash after the manifest marker, before any publish —
    # recovery publishes the pack and deletes the replaced files
    small, staged = _staged_pack(spark, lake)
    _write_swap_manifest(spark, lake, staged, small)
    _recover_lake_swap(spark, lake)
    assert _vals(spark, lake) == [1, 2, 3]
    assert _parquets(lake) == staged  # pack in, originals gone
    assert not os.path.exists(_lake_staging(lake))
    assert not os.path.exists(_lake_marker(lake))

    # window 3: crash mid-publish — one pack file already moved in.
    # (multi-file pack: stage two packs by hand)
    for v in (4, 5):
        _append_one(spark, lake, [(v,)])
    small = _parquets(lake)
    spark.read.parquet(*[f"{lake}/{n}" for n in small]).repartition(
        2
    ).write.mode("overwrite").parquet(_lake_staging(lake))
    staged = _parquets(_lake_staging(lake))
    _write_swap_manifest(spark, lake, staged, small)
    os.rename(
        os.path.join(_lake_staging(lake), staged[0]),
        os.path.join(lake, staged[0]),
    )
    _recover_lake_swap(spark, lake)
    assert _vals(spark, lake) == [1, 2, 3, 4, 5]
    assert _parquets(lake) == sorted(staged)
    assert not os.path.exists(_lake_staging(lake))
    assert not os.path.exists(_lake_marker(lake))

    # window 4: crash mid-delete — pack fully published, one replaced
    # file already deleted, staging partially cleaned
    _append_one(spark, lake, [(6,)])
    small, staged2 = _staged_pack(spark, lake)
    _write_swap_manifest(spark, lake, staged2, small)
    for n in staged2:
        os.rename(
            os.path.join(_lake_staging(lake), n), os.path.join(lake, n)
        )
    os.remove(os.path.join(lake, small[0]))
    _recover_lake_swap(spark, lake)
    assert _vals(spark, lake) == [1, 2, 3, 4, 5, 6]
    assert _parquets(lake) == sorted(staged2)
    assert not os.path.exists(_lake_staging(lake))
    assert not os.path.exists(_lake_marker(lake))

    # window 5: everything done but the marker delete — recovery is a
    # pure cleanup (staged files all published, staging gone)
    _append_one(spark, lake, [(7,)])
    small, staged3 = _staged_pack(spark, lake)
    _write_swap_manifest(spark, lake, staged3, small)
    _finish_scoped_swap(spark, lake, staged3, small)
    _write_swap_manifest(spark, lake, staged3, small)  # marker back
    _recover_lake_swap(spark, lake)
    assert _vals(spark, lake) == [1, 2, 3, 4, 5, 6, 7]
    assert not os.path.exists(_lake_marker(lake))


def test_recover_legacy_zero_byte_marker(spark, tmp_path):
    """Pre-r16 whole-directory swaps mid-crash are still honored: a
    zero-byte marker means staging is the authoritative FULL copy."""
    lake = str(tmp_path / "lake")
    _write(spark, lake, [(1,), (2,)])
    _write(spark, _lake_staging(lake), [(7,), (8,)])
    _touch(_lake_marker(lake))
    _recover_lake_swap(spark, lake)
    assert _vals(spark, lake) == [7, 8]
    assert not os.path.exists(_lake_staging(lake))
    assert not os.path.exists(_lake_marker(lake))

    # legacy window: crash between delete(lake) and rename
    _write(spark, _lake_staging(lake), [(5,)])
    _touch(_lake_marker(lake))
    shutil.rmtree(lake)
    _recover_lake_swap(spark, lake)
    assert _vals(spark, lake) == [5]

    # legacy window: crash after the rename, before the marker delete
    _touch(_lake_marker(lake))
    _recover_lake_swap(spark, lake)
    assert _vals(spark, lake) == [5]
    assert not os.path.exists(_lake_marker(lake))


def test_read_append_lake_never_sees_mid_swap_duplicates(spark, tmp_path):
    """Advice r15: an external reader of the raw lake dir could see
    the mid-swap state (pack published, originals not yet deleted —
    transient duplicates). read_append_lake completes the swap first
    and must return the exact corpus."""
    lake = str(tmp_path / "lake")
    _write(spark, lake, [(1,)])
    _append_one(spark, lake, [(2,)])
    small, staged = _staged_pack(spark, lake)
    _write_swap_manifest(spark, lake, staged, small)
    for n in staged:  # publish the pack, crash before the deletes
        os.rename(
            os.path.join(_lake_staging(lake), n), os.path.join(lake, n)
        )
    # raw read at this instant WOULD double-count
    assert _vals(spark, lake) == [1, 1, 2, 2]
    assert sorted(
        r["x"] for r in read_append_lake(spark, lake).collect()
    ) == [1, 2]
    assert not os.path.exists(_lake_marker(lake))


def test_compact_append_lake_preserves_rows_and_bounds_files(
    spark, tmp_path
):
    lake = str(tmp_path / "lake")
    for i in range(12):
        _append_one(spark, lake, [(i,)])
    assert len(_data_file_statuses(spark, lake)) == 12
    _compact_append_lake(spark, lake)
    assert _vals(spark, lake) == list(range(12))
    assert len(_data_file_statuses(spark, lake)) <= 2
    assert not os.path.exists(_lake_marker(lake))
    assert not os.path.exists(_lake_staging(lake))


def _fat_file(spark, lake, n_rows, seed):
    """Append one parquet file of ~32 bytes/row (md5 strings resist
    encoding) so tests can manufacture files above a scaled-down
    target without writing 64 MB."""
    spark.range(seed, seed + n_rows).select(
        F.col("id").alias("x"), F.md5(F.col("id").cast("string")).alias("p")
    ).coalesce(1).write.mode("append").parquet(lake)


def test_compact_reads_only_the_small_tail(spark, tmp_path):
    """The r15 verdict's named scale-killer: per-compaction cost must
    be O(new data), not O(lake). Graduated (at-target) files are not
    read, not rewritten, not renamed; bytes_read covers exactly the
    small tail."""
    lake = str(tmp_path / "lake")
    target = 64 * 1024
    _fat_file(spark, lake, 60_000, 0)  # ~2 MB >> target: graduated
    grad = {
        n: os.path.getsize(os.path.join(lake, n)) for n in _parquets(lake)
    }
    assert all(sz >= target for sz in grad.values())
    for i in range(10):  # the small per-batch tail
        _fat_file(spark, lake, 50, 100_000 + 50 * i)
    small_bytes = sum(
        os.path.getsize(os.path.join(lake, n))
        for n in _parquets(lake)
        if n not in grad
    )
    before = _vals(spark, lake)
    ev = _compact_append_lake(spark, lake, target_bytes=target)
    assert ev["bytes_read"] == small_bytes
    assert ev["small_files"] == 10
    assert ev["lake_bytes"] > 10 * ev["bytes_read"]  # lake >> tail
    # graduated files byte-identical in place
    for n, sz in grad.items():
        assert os.path.getsize(os.path.join(lake, n)) == sz
    assert _vals(spark, lake) == before

    # second cycle: new tail + the runt pack — still never the lake
    runt = [n for n in _parquets(lake) if n not in grad]
    runt_bytes = sum(os.path.getsize(os.path.join(lake, n)) for n in runt)
    for i in range(10):
        _fat_file(spark, lake, 50, 200_000 + 50 * i)
    tail2 = sum(
        os.path.getsize(os.path.join(lake, n))
        for n in _parquets(lake)
        if n not in grad
    )
    ev2 = _compact_append_lake(spark, lake, target_bytes=target)
    assert ev2["bytes_read"] == tail2
    assert ev2["bytes_read"] <= runt_bytes + 11 * (tail2 - runt_bytes)
    for n, sz in grad.items():
        assert os.path.getsize(os.path.join(lake, n)) == sz
    assert len(_vals(spark, lake)) == len(before) + 500


@pytest.mark.slow
def test_compact_output_files_uncapped_and_target_sized(spark, tmp_path):
    """r15 verdict: the old min(64, ...) output cap meant any lake
    past 64x the target got over-large files (1.5 TB files at 100 TB).
    With a scaled-down target, a small tail worth >64 targets must
    pack into >64 outputs, each under ~2x target."""
    lake = str(tmp_path / "lake")
    target = 4 * 1024
    for i in range(12):
        _fat_file(spark, lake, 1000, 10_000 * i)  # ~33 KB each: small? no -
        # 1000 md5 rows ~ 40 KB > target, so scale rows down below
    # the files above may graduate; add a genuinely small tail big
    # enough in aggregate to need >64 packs
    small_total = 0
    i = 0
    while small_total < 65 * target:
        _fat_file(spark, lake, 60, 500_000 + 60 * i)  # ~4-6 KB, sub-10KB
        i += 1
        small_total = sum(
            os.path.getsize(os.path.join(lake, n))
            for n in _parquets(lake)
            if os.path.getsize(os.path.join(lake, n)) < target
        )
    n_rows_before = len(_vals(spark, lake))
    ev = _compact_append_lake(spark, lake, target_bytes=target)
    assert ev is not None
    assert ev["n_out"] > 64, ev  # cap is gone
    assert ev["n_out"] == max(1, ev["bytes_read"] // target)
    assert len(_vals(spark, lake)) == n_rows_before


def test_out_of_band_seam_and_inline_disable(spark, tmp_path, monkeypatch):
    lake = str(tmp_path / "lake")
    for i in range(6):
        _append_one(spark, lake, [(i,)])
    # inline disabled: the per-batch trigger is a no-op
    monkeypatch.setenv("SPARK_GRAFT_LAKE_COMPACT_INLINE", "0")
    monkeypatch.setattr(streaming, "APPEND_LAKE_COMPACT_FILES", 2)
    streaming._maybe_compact_lakes(spark, lake)
    assert len(_data_file_statuses(spark, lake)) == 6
    # the out-of-band seam compacts (and records the event)
    n_events = len(streaming.COMPACTION_EVENTS)
    done = compact_append_lakes(spark, lake, threshold=2)
    assert len(done) == 1 and done[0]["small_files"] == 6
    assert len(streaming.COMPACTION_EVENTS) == n_events + 1
    assert _vals(spark, lake) == list(range(6))
    assert len(_data_file_statuses(spark, lake)) == 1
    # below threshold: no-op without force; force packs
    _append_one(spark, lake, [(6,)])
    assert compact_append_lakes(spark, lake, threshold=5) == []
    assert len(compact_append_lakes(spark, lake, force=True)) == 1
    assert _vals(spark, lake) == list(range(7))


@pytest.mark.slow
def test_neardup_ingest_compacts_both_lakes_and_stays_exact(
    spark, tmp_path, monkeypatch
):
    """16 single-file micro-batches with the threshold forced low:
    both source-of-truth lakes get compacted mid-stream (several
    times), the retained set still equals the batch twin, and a full
    replay appends nothing."""
    from data_ingestor_gluejob_script_spark.queries.textops import (
        minhash_dedup_frame,
    )

    monkeypatch.setattr(streaming, "APPEND_LAKE_COMPACT_FILES", 4)
    rows = [
        (i, f"alpha bravo charlie delta echo token{i} foxtrot golf")
        for i in range(16)
    ]
    docs_dir = str(tmp_path / "in")
    lake, sigs = str(tmp_path / "lake"), str(tmp_path / "sigs")
    for i, t in rows:  # one file per batch -> 16 micro-batches
        spark.createDataFrame(
            [(i, t)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(docs_dir)

    q = run_neardup_ingest(spark, docs_dir, lake, sigs, str(tmp_path / "ck"))
    q.awaitTermination(600)

    # bounded file counts: 16 appends with threshold 4 means both
    # lakes compacted at least twice and never exceed threshold+1
    # files for long (post-run: at most threshold + a few appends)
    assert len(_data_file_statuses(spark, sigs)) <= 6
    assert len(_data_file_statuses(spark, lake)) <= 6

    df_all = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        r["doc_id"] for r in minhash_dedup_frame(df_all).collect()
    )
    got = sorted(r["doc_id"] for r in spark.read.parquet(lake).collect())
    assert got == want
    n_sigs = spark.read.parquet(sigs).count()
    assert n_sigs == len({t for _, t in rows})

    # replay with a fresh checkpoint: ledger absorbs everything
    q2 = run_neardup_ingest(
        spark, docs_dir, lake, sigs, str(tmp_path / "ck2")
    )
    q2.awaitTermination(600)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(lake).collect()
    ) == want
    assert spark.read.parquet(sigs).count() == n_sigs


@pytest.mark.slow
def test_doc_and_url_dedup_ingests_compact_their_lakes(
    spark, tmp_path, monkeypatch
):
    """r16: the lake-as-state ingests (doc dedup, URL dedup, web
    curation) join the same incremental compaction path as the
    two-lake twins — bounded file counts, exact content, replay
    no-op."""
    from data_ingestor_gluejob_script_spark.streaming import (
        run_doc_dedup_ingest,
        run_url_dedup_ingest,
    )

    monkeypatch.setattr(streaming, "APPEND_LAKE_COMPACT_FILES", 4)
    rows = [(i, f"doc body {i % 10}") for i in range(16)]  # 10 distinct
    docs_dir = str(tmp_path / "in")
    for i, t in rows:
        spark.createDataFrame(
            [(i, t)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(docs_dir)

    lake = str(tmp_path / "lake")
    q = run_doc_dedup_ingest(spark, docs_dir, lake, str(tmp_path / "ck"))
    q.awaitTermination(600)
    assert len(_data_file_statuses(spark, lake)) <= 6  # compacted mid-stream
    got = sorted(
        r["doc_id"] for r in spark.read.parquet(lake).collect()
    )
    assert got == list(range(10))  # first arrival per distinct text
    # replay: nothing re-appended
    q2 = run_doc_dedup_ingest(spark, docs_dir, lake, str(tmp_path / "ck2"))
    q2.awaitTermination(600)
    assert spark.read.parquet(lake).count() == 10

    # URL twin: 8 docs over 4 distinct normalized URLs
    url_rows = [
        (i, f"doc {i}", f"HTTP://Example.com:80/p{i % 4}?utm_source=x")
        for i in range(8)
    ]
    url_dir = str(tmp_path / "uin")
    for r in url_rows:
        spark.createDataFrame(
            [r], "doc_id long, text string, url string"
        ).coalesce(1).write.mode("append").parquet(url_dir)
    ulake = str(tmp_path / "ulake")
    monkeypatch.setattr(streaming, "APPEND_LAKE_COMPACT_FILES", 3)
    uq = run_url_dedup_ingest(spark, url_dir, ulake, str(tmp_path / "uck"))
    uq.awaitTermination(600)
    assert len(_data_file_statuses(spark, ulake)) <= 5
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(ulake).collect()
    ) == [0, 1, 2, 3]


def test_band_ledger_pack_trigger_ignores_graduated_files(
    spark, tmp_path, monkeypatch
):
    """Review r16: the band-lake pack trigger must count SUB-TARGET
    files only — graduated files never shrink, so a total-count
    trigger would fire on every batch once the lake held more than
    the threshold of at-target files, repacking the runt each time."""
    from data_ingestor_gluejob_script_spark.streaming import (
        _ensure_band_ledger,
    )

    band = str(tmp_path / "bands")
    monkeypatch.setattr(streaming, "_COMPACT_TARGET_BYTES", 10_000)
    monkeypatch.setattr(streaming, "BAND_LEDGER_COMPACT_FILES", 3)

    def boom(_state):
        raise AssertionError("structural rebuild must not fire")

    # five GRADUATED files (> scaled target via md5 padding)
    for i in range(5):
        spark.range(i * 1000, i * 1000 + 600).select(
            F.col("id").alias("band_key"),
            F.md5(F.col("id").cast("string")).alias("sig_cat"),
            (F.col("id") % 16).cast("int").alias("band_pfx"),
        ).coalesce(1).write.mode("append").parquet(band)
    names_before = _parquets(band)
    assert all(
        os.path.getsize(os.path.join(band, n)) >= 10_000
        for n in names_before
    )
    state = spark.range(1)
    out = _ensure_band_ledger(spark, state, band, boom)
    assert out is not None
    # total count (5) exceeds the threshold (3) but all are graduated:
    # nothing rebuilt, nothing repacked
    assert _parquets(band) == names_before

    # four SMALL appends push the sub-target count past the threshold:
    # the tail packs, graduated files stay byte-identical in place
    for i in range(4):
        spark.createDataFrame(
            [(i, "x", i % 16)], "band_key long, sig_cat string, band_pfx int"
        ).coalesce(1).write.mode("append").parquet(band)
    n_rows = spark.read.parquet(band).count()
    _ensure_band_ledger(spark, state, band, boom)
    after = _parquets(band)
    assert set(names_before) <= set(after)
    assert len(after) == len(names_before) + 1  # 4 small -> 1 runt
    assert spark.read.parquet(band).count() == n_rows


def test_recovery_drops_orphan_manifest_tmp(spark, tmp_path):
    """Review r16: a crash between creating the manifest .tmp and
    renaming it into place must not leave debris — marker-absent
    recovery drops the orphan .tmp along with orphan staging."""
    lake = str(tmp_path / "lake")
    _write(spark, lake, [(1,)])
    tmp_marker = _lake_marker(lake) + ".tmp"
    with open(tmp_marker, "w") as f:
        f.write('{"staged": [], "replaced": []}')
    _recover_lake_swap(spark, lake)
    assert not os.path.exists(tmp_marker)
    assert _vals(spark, lake) == [1]
