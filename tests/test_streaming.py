"""Streaming twins: tumbling-window stream == batch twin; foreachBatch
ingestion drives the same lake writer."""

from __future__ import annotations

import os
from datetime import datetime
import pytest

from data_ingestor_gluejob_script_spark import streaming
from data_ingestor_gluejob_script_spark.queries.analytics import q_tumbling_window
from data_ingestor_gluejob_script_spark.registry import CATALOG
from data_ingestor_gluejob_script_spark.watermarks import WatermarkStore

SF_DIR = "/root/testdata/sf0.001"


def test_stream_tumbling_matches_batch(spark):
    got = streaming.run_tumbling_stream(
        spark, os.path.join(SF_DIR, "events.parquet"), "t_tumbling_test"
    )
    stream_rows = {
        (r.window_start, r.n_events, r.sum_value) for r in got.collect()
    }
    batch_rows = {
        (r.window_start, r.n_events, r.sum_value)
        for r in q_tumbling_window(spark, SF_DIR).collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_stream_incremental_upsert(spark, tmp_path):
    spec = CATALOG["retail_subscriptions"]
    src = str(tmp_path / "drops")
    os.makedirs(src)
    lake = str(tmp_path / "lake")
    store = WatermarkStore(
        str(tmp_path / "wm.json"), [spec.name], now=datetime(2024, 3, 1)
    )

    def drop(fname, rows):
        with open(os.path.join(src, fname), "w") as f:
            f.write(";".join(spec.columns) + "\n")
            for r in rows:
                f.write(";".join(r) + "\n")

    def row(id, created, status):
        return [
            {"id": id, "created_at": created, "updated_at": created,
             "status": status}.get(c, f"x_{c}")
            for c in spec.columns
        ]

    drop("batch1.csv", [row("s1", "2024-01-10 10:00:00", "active")])
    q = streaming.stream_incremental_upsert(
        spark, src, spec, lake, store,
        str(tmp_path / "ckpt"), t0="2024-03-01 04:00:00",
    )
    q.awaitTermination()
    store.commit()

    df = spark.read.parquet(f"{lake}/raw/locaweb/{spec.name}")
    assert {r.id for r in df.select("id").collect()} == {"s1"}
    assert store.get(spec.name) == "2024-03-01 04:00:00"

    # Second drop: update s1, add s2 — the stream resumes from the
    # checkpoint and upserts only the new file.
    drop("batch2.csv", [
        row("s1", "2024-01-10 10:00:00", "cancelled"),
        row("s2", "2024-02-05 09:00:00", "active"),
    ])
    q2 = streaming.stream_incremental_upsert(
        spark, src, spec, lake, store,
        str(tmp_path / "ckpt"), t0="2024-03-02 04:00:00",
    )
    q2.awaitTermination()
    store.commit()

    df2 = spark.read.parquet(f"{lake}/raw/locaweb/{spec.name}")
    got = {r.id: r.status for r in df2.select("id", "status").collect()}
    assert got == {"s1": "cancelled", "s2": "active"}


def test_stateful_user_totals_matches_batch(spark):
    from pyspark.sql import functions as F
    from data_ingestor_gluejob_script_spark.queries._util import load

    got = streaming.run_stateful_totals(
        spark, os.path.join(SF_DIR, "events.parquet"), "t_user_totals_test"
    )
    # Last emission per user (single availableNow batch → one row each).
    stream_rows = {
        r.user_id: (r.n_events, round(r.sum_value, 4)) for r in got.collect()
    }
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
    )
    batch_rows = {r.user_id: (r.n, r.s) for r in batch.collect()}
    assert set(stream_rows) == set(batch_rows)
    for u, (n, s) in batch_rows.items():
        assert stream_rows[u][0] == n
        assert abs(stream_rows[u][1] - s) < 1e-6


def test_stream_sliding_matches_batch(spark):
    from data_ingestor_gluejob_script_spark.queries.windows import (
        q_sliding_window,
    )

    got = streaming.run_tumbling_stream(
        spark,
        os.path.join(SF_DIR, "events.parquet"),
        "t_sliding_test",
        slide="30 minutes",
    )
    stream_rows = {
        (r.window_start, r.n_events, r.sum_value) for r in got.collect()
    }
    batch_rows = {
        (r.window_start, r.n_events, r.sum_value)
        for r in q_sliding_window(spark, SF_DIR).collect()
    }
    assert stream_rows == batch_rows


def test_stream_sessions_match_batch(spark):
    from data_ingestor_gluejob_script_spark.queries.windows import (
        q_session_window,
    )

    got = streaming.run_session_stream(
        spark, os.path.join(SF_DIR, "events.parquet"), "t_sessions_test"
    )
    stream_rows = {
        (r.user_id, r.session_start, r.n_events, r.sum_value)
        for r in got.collect()
    }
    batch_rows = {
        (r.user_id, r.session_start, r.n_events, r.sum_value)
        for r in q_session_window(spark, SF_DIR).collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


@pytest.mark.slow
def test_stream_dedup_matches_batch(spark, tmp_path):
    """Duplicate every event across two files; the streaming dedup must
    emit each event_id exactly once and agree with the batch twin."""
    from pyspark.sql import functions as F
    from data_ingestor_gluejob_script_spark.queries._util import load

    src = str(tmp_path / "dup_events")
    events = load(spark, SF_DIR, "events")
    n = events.count()
    events.write.parquet(src)  # file 1: originals
    events.sample(0.5, seed=7).write.mode("append").parquet(src)  # dups
    assert spark.read.parquet(src).count() > n  # dups really landed

    # The two files are replayed history spanning the whole table's
    # time range, so the duplicate horizon must cover that span —
    # otherwise the second micro-batch's rows are (correctly) dropped
    # as late data once the first batch advances the watermark.
    got = streaming.run_dedup_stream(spark, src, "t_dedup_test", late="365 days")
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n

    batch = streaming.stream_exact_dedup(spark.read.parquet(src))
    assert batch.count() == n
    stream_vals = {
        (r.event_id, r.user_id, r.value)
        for r in got.select("event_id", "user_id", "value").collect()
    }
    batch_vals = {
        (r.event_id, r.user_id, r.value)
        for r in batch.select("event_id", "user_id", "value").collect()
    }
    assert stream_vals == batch_vals


@pytest.mark.slow
def test_stream_attribution_join_matches_batch(spark):
    """Stream-stream interval join vs the identical batch join: inner
    joins emit eagerly, so the availableNow run must reproduce the
    batch pair set exactly."""
    from data_ingestor_gluejob_script_spark.queries._util import load

    got = streaming.run_attribution_stream(
        spark, os.path.join(SF_DIR, "events.parquet"), "t_attribution_test"
    )
    stream_rows = {
        (r.user_id, r.purchase_id, r.click_id, r.lag_seconds)
        for r in got.collect()
    }

    ev = load(spark, SF_DIR, "events")
    batch = streaming.click_attribution_join(
        ev.filter(ev.event_type == "purchase"),
        ev.filter(ev.event_type == "click"),
    )
    batch_rows = {
        (r.user_id, r.purchase_id, r.click_id, r.lag_seconds)
        for r in batch.collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0
    # the interval bound actually bites: every pair lags within 1 hour
    assert all(0 <= lag <= 3600 for *_, lag in stream_rows)


def test_batch_dedup_contract(spark):
    """The batch twin requires ts, survives unorderable payload types
    (MapType), and picks the min-ts row per key deterministically."""
    import pytest
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 5), {"a": 1}),
            (1, datetime(2024, 1, 1, 0, 0, 1), {"b": 2}),
            (2, datetime(2024, 1, 2, 0, 0, 0), {"c": 3}),
        ],
        "event_id long, ts timestamp, props map<string,int>",
    )
    got = {
        (r.event_id, r.ts)
        for r in streaming.stream_exact_dedup(df, keys=["event_id"]).collect()
    }
    assert got == {
        (1, datetime(2024, 1, 1, 0, 0, 1)),
        (2, datetime(2024, 1, 2, 0, 0, 0)),
    }

    no_ts = df.select("event_id", F.col("props"))
    with pytest.raises(ValueError, match="ts"):
        streaming.stream_exact_dedup(no_ts, keys=["event_id"])


def test_file_stream_one_file_per_batch_and_resumes(spark, tmp_path):
    """The ingest skeleton's contract: with max_files_per_trigger=1,
    three parquet files drain as three micro-batches (ids 0, 1, 2),
    each file read once; a rerun on the same checkpoint has nothing
    left to read and never calls the sink."""
    import pandas as pd
    import time as _time

    src = tmp_path / "incoming"
    src.mkdir()
    for i in range(3):
        pd.DataFrame({"x": [i]}).to_parquet(src / f"f{i}.parquet")
        _time.sleep(0.05)
    calls = []

    def sink(batch_df, batch_id):
        calls.append((batch_id, [r.x for r in batch_df.collect()]))

    ckpt = str(tmp_path / "ckpt")
    streaming._file_stream(spark, str(src), ckpt, sink, 1).awaitTermination()
    assert [b for b, _ in calls] == [0, 1, 2]
    assert sorted(x for _, xs in calls for x in xs) == [0, 1, 2]

    calls.clear()
    streaming._file_stream(spark, str(src), ckpt, sink, 1).awaitTermination()
    assert calls == []


def test_doc_dedup_ingest(spark, tmp_path):
    """Two arriving document files; the second is half duplicates of
    the first. The lake must end with exactly the distinct texts, the
    digest column persisted for future anti-joins, and a re-run of the
    same stream (fresh checkpoint, same lake) must add nothing —
    idempotence via the lake-side digest state."""
    import pandas as pd
    import time as _time

    src = tmp_path / "incoming"
    src.mkdir()
    a = pd.DataFrame(
        {"doc_id": range(10), "text": [f"doc text {i}" for i in range(10)]}
    )
    b = pd.DataFrame(
        {
            "doc_id": range(100, 110),
            "text": [f"doc text {i}" for i in range(5)]  # 5 dupes of A
            + [f"new text {i}" for i in range(5)],       # 5 fresh
        }
    )
    a.to_parquet(src / "a.parquet")
    _time.sleep(0.05)
    b.to_parquet(src / "b.parquet")

    lake = str(tmp_path / "lake")
    q = streaming.run_doc_dedup_ingest(
        spark, str(src), lake, str(tmp_path / "ckpt1")
    )
    q.awaitTermination(120)

    got = spark.read.parquet(lake)
    assert got.count() == 15
    assert got.select("text_md5").distinct().count() == 15
    assert got.select("text").distinct().count() == 15
    # survivors keep the earliest doc_id for duplicated texts
    kept_ids = {r.doc_id for r in got.select("doc_id").collect()}
    assert set(range(10)) <= kept_ids
    assert not any(100 <= i < 105 for i in kept_ids)

    # replay with a fresh checkpoint: digest anti-join absorbs it all
    q2 = streaming.run_doc_dedup_ingest(
        spark, str(src), lake, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(lake).count() == 15


def _vocab_lake(spark, path):
    return {
        r.token: (r.n_docs, r.n_occurrences)
        for r in streaming.read_vocab_lake(spark, path)
        .filter("doc_id IS NULL")
        .collect()
    }


def test_vocab_ingest_matches_batch_and_is_replay_safe(spark, tmp_path):
    """Two document files ingested as two micro-batches: the vocab
    lake must equal the batch vocabulary of the full corpus; a replay
    against a fresh checkpoint must change nothing; and — the case a
    batch-id guard gets WRONG — a fresh-checkpoint rerun whose first
    batch regroups old files WITH a new one must fold in exactly the
    new documents (content-keyed idempotence via the doc ledger)."""
    import pandas as pd

    from data_ingestor_gluejob_script_spark.queries.corpusstats import (
        vocab_frame,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["the fast key", "the the sort"]}
    ).to_parquet(src / "a.parquet")
    pd.DataFrame(
        {"doc_id": [3], "text": ["fast fast key order"]}
    ).to_parquet(src / "b.parquet")

    # Explicit file: URI — the lake's pointer/prune ops go through the
    # Hadoop FileContext API, so a scheme'd path must work end-to-end
    # (a driver-local os.* implementation would silently mistreat it).
    vocab = f"file://{tmp_path / 'vocab'}"
    q = streaming.run_vocab_ingest(
        spark, str(src), vocab, str(tmp_path / "ckpt1")
    )
    q.awaitTermination(120)

    expected = {
        r.token: (r.n_docs, r.n_occurrences)
        for r in vocab_frame(spark.read.parquet(str(src))).collect()
    }
    assert _vocab_lake(spark, vocab) == expected

    # fresh checkpoint, same files: nothing changes
    q2 = streaming.run_vocab_ingest(
        spark, str(src), vocab, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    assert _vocab_lake(spark, vocab) == expected

    # new file + fresh checkpoint + everything regrouped into ONE
    # batch: old docs must not double, the new doc must not be lost
    pd.DataFrame(
        {"doc_id": [4], "text": ["order order delta"]}
    ).to_parquet(src / "c.parquet")
    q3 = streaming.run_vocab_ingest(
        spark, str(src), vocab, str(tmp_path / "ckpt3"),
        max_files_per_trigger=10,
    )
    q3.awaitTermination(120)
    expected_all = {
        r.token: (r.n_docs, r.n_occurrences)
        for r in vocab_frame(spark.read.parquet(str(src))).collect()
    }
    assert _vocab_lake(spark, vocab) == expected_all


def test_stateful_totals_multibatch_one_final_row_per_user(spark, tmp_path):
    """Two event files driven as two micro-batches: the update-mode
    memory sink holds one emission per user per batch, and the driver
    must still return exactly one FINAL row per user (max cumulative
    counter), matching the batch aggregate over all files."""
    import pandas as pd

    d = tmp_path / "events"
    d.mkdir()
    pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01 10:00:00"] * 2),
            "user_id": [7, 7],
            "event_type": ["view", "view"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    ).to_parquet(d / "a.parquet")
    pd.DataFrame(
        {
            "event_id": [3],
            "ts": pd.to_datetime(["2024-01-01 11:00:00"]),
            "user_id": [7],
            "event_type": ["view"],
            "value": [4.0],
            "props": ["{}"],
        }
    ).to_parquet(d / "b.parquet")

    got = streaming.run_stateful_totals(
        spark, str(d), query_name="totals_multibatch", max_files_per_trigger=1
    ).collect()
    assert len(got) == 1
    assert got[0].user_id == 7
    assert got[0].n_events == 3
    assert got[0].sum_value == 7.0


def test_doc_dedup_ingest_null_text_not_dropped(spark, tmp_path):
    """Documents with NULL text must still be ingested (md5(NULL) is
    NULL, and equality joins on a NULL digest silently drop the row);
    they hash like empty text, so all NULL/empty-text docs dedup to
    one deterministic survivor."""
    import pandas as pd

    src = tmp_path / "incoming"
    src.mkdir()
    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["real text", None, None]}
    ).to_parquet(src / "a.parquet")

    lake = str(tmp_path / "lake")
    q = streaming.run_doc_dedup_ingest(
        spark, str(src), lake, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = spark.read.parquet(lake)
    assert {r.doc_id for r in got.collect()} == {1, 2}  # min null-text doc


def test_doc_dedup_ingest_same_row_twice_in_one_batch(spark, tmp_path):
    """The most common redelivery case: the EXACT same (doc_id, text)
    row appears twice inside a single micro-batch (e.g. a source file
    republished with duplicate rows). The within-batch dedup must
    collapse it to one lake row, not two."""
    import pandas as pd

    src = tmp_path / "incoming"
    src.mkdir()
    rows = pd.DataFrame(
        {
            "doc_id": [1, 1, 2, 3, 3, 3],
            "text": ["same text", "same text", "other", "third"] + ["third"] * 2,
        }
    )
    rows.to_parquet(src / "a.parquet")

    lake = str(tmp_path / "lake")
    q = streaming.run_doc_dedup_ingest(
        spark, str(src), lake, str(tmp_path / "ckpt"),
        max_files_per_trigger=10,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(lake)
    assert got.count() == 3  # one row per distinct text, not 6
    assert {r.doc_id for r in got.collect()} == {1, 2, 3}


def test_doc_dedup_ingest_corrupt_lake_aborts_batch(spark, tmp_path):
    """A lake read failure that is NOT path-not-found must abort the
    micro-batch (r7 advice): treating e.g. a corrupt footer as 'first
    batch, no lake yet' would silently skip the digest anti-join and
    double-ingest."""
    import pandas as pd

    src = tmp_path / "incoming"
    src.mkdir()
    pd.DataFrame({"doc_id": [1], "text": ["a doc"]}).to_parquet(
        src / "a.parquet"
    )
    lake = tmp_path / "lake"
    lake.mkdir()
    (lake / "part-00000.parquet").write_bytes(b"this is not parquet")

    q = streaming.run_doc_dedup_ingest(
        spark, str(src), str(lake), str(tmp_path / "ckpt")
    )
    from pyspark.errors import StreamingQueryException

    try:
        q.awaitTermination(120)
        failed = q.exception() is not None
    except StreamingQueryException:
        failed = True
    assert failed, "corrupt lake read must abort the batch, not skip dedup"
    # nothing was appended on top of the corrupt lake
    leftover = [
        f for f in os.listdir(lake) if not f.startswith(("part-00000", "."))
    ]
    assert leftover == []


@pytest.mark.slow
def test_audited_ingest_splits_and_is_idempotent(spark, tmp_path):
    """Two arriving order files with seeded violations: clean rows
    land in the lake, bad rows land in quarantine WITH their
    diagnosis, every row lands on exactly one side, and a replay with
    a fresh checkpoint (same destinations) appends nothing."""
    import pandas as pd
    import time as _time

    from data_ingestor_gluejob_script_spark.queries.audit import (
        accepted_values,
        not_null,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    a = pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3],
            "o_custkey": [10.0, None, 11.0],       # 2 → null custkey
            "o_orderstatus": ["O", "F", "X"],       # 3 → bad status
        }
    )
    b = pd.DataFrame(
        {
            "o_orderkey": [4, 5],
            "o_custkey": [12.0, 13.0],
            "o_orderstatus": ["P", "O"],
        }
    )
    a.to_parquet(src / "a.parquet")
    _time.sleep(0.05)
    b.to_parquet(src / "b.parquet")

    lake = str(tmp_path / "lake")
    quarantine = str(tmp_path / "quarantine")

    def checks():
        return [
            not_null("o_custkey"),
            accepted_values("o_orderstatus", ["O", "F", "P"]),
        ]

    q = streaming.run_audited_ingest(
        spark, str(src), lake, quarantine, str(tmp_path / "ck1"),
        checks(), id_col="o_orderkey",
    )
    q.awaitTermination(120)

    got_lake = spark.read.parquet(lake)
    got_bad = spark.read.parquet(quarantine)
    assert {r.o_orderkey for r in got_lake.collect()} == {1, 4, 5}
    assert "_violations" not in got_lake.columns
    diag = {r.o_orderkey: sorted(r._violations) for r in got_bad.collect()}
    assert diag == {
        2: ["not_null:o_custkey"],
        3: ["accepted:o_orderstatus"],
    }

    # replay with a fresh checkpoint: the id guards absorb everything
    q2 = streaming.run_audited_ingest(
        spark, str(src), lake, quarantine, str(tmp_path / "ck2"),
        checks(), id_col="o_orderkey",
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(lake).count() == 3
    assert spark.read.parquet(quarantine).count() == 2

    # a CORRECTED redelivery of a quarantined id is clean-ingested:
    # the quarantine guard must not block the lake side
    pd.DataFrame(
        {
            "o_orderkey": [2],
            "o_custkey": [14.0],
            "o_orderstatus": ["O"],
        }
    ).to_parquet(src / "c.parquet")
    q3 = streaming.run_audited_ingest(
        spark, str(src), lake, quarantine, str(tmp_path / "ck3"),
        checks(), id_col="o_orderkey",
    )
    q3.awaitTermination(120)
    assert {r.o_orderkey for r in spark.read.parquet(lake).collect()} == {
        1, 2, 4, 5
    }
    assert spark.read.parquet(quarantine).count() == 2

    # a SECOND, DISTINCT violation of an already-quarantined id is new
    # content and must reach quarantine — an id-only guard would drop
    # it silently (the content-digest guard's reason to exist)
    pd.DataFrame(
        {
            "o_orderkey": [3],
            "o_custkey": [None],          # now a null custkey, not a
            "o_orderstatus": ["O"],       # bad status like before
        }
    ).to_parquet(src / "d.parquet")
    q4 = streaming.run_audited_ingest(
        spark, str(src), lake, quarantine, str(tmp_path / "ck4"),
        checks(), id_col="o_orderkey",
    )
    q4.awaitTermination(120)
    bad3 = [
        sorted(r._violations)
        for r in spark.read.parquet(quarantine)
        .filter("o_orderkey = 3")
        .collect()
    ]
    assert sorted(bad3) == [
        ["accepted:o_orderstatus"],
        ["not_null:o_custkey"],
    ]
    # and the identical-redelivery guard still holds for everything else
    assert spark.read.parquet(lake).count() == 4


def test_audited_ingest_guards_legacy_rows_without_digest_column(
    spark, tmp_path
):
    """A destination written before the digest column existed (rows
    WITHOUT ``_ingest_digest``) keeps full replay protection: the
    guard trusts the stored digest where present and recomputes from
    the stored source columns only for the legacy (null-digest) rows
    — so redelivering a legacy row's content appends nothing, while
    genuinely new content still lands (with the digest persisted)."""
    import pandas as pd

    from data_ingestor_gluejob_script_spark.queries.audit import not_null

    src = tmp_path / "incoming"
    src.mkdir()
    # the legacy lake: same rows a legacy writer would have published,
    # no _ingest_digest column
    legacy = pd.DataFrame(
        {
            "o_orderkey": [1, 2],
            "o_custkey": [10.0, 11.0],
            "o_orderstatus": ["O", "F"],
        }
    )
    lake = tmp_path / "lake"
    lake.mkdir()
    legacy.to_parquet(lake / "legacy.parquet")

    # redelivery of legacy content + one genuinely new row
    pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3],
            "o_custkey": [10.0, 11.0, 12.0],
            "o_orderstatus": ["O", "F", "P"],
        }
    ).to_parquet(src / "a.parquet")

    q = streaming.run_audited_ingest(
        spark, str(src), str(lake), str(tmp_path / "quarantine"),
        str(tmp_path / "ck1"), [not_null("o_custkey")],
        id_col="o_orderkey",
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(lake))
    keys = sorted(r.o_orderkey for r in got.collect())
    assert keys == [1, 2, 3]  # legacy rows NOT re-appended; new row in
    # the new row carries a persisted digest (read under an explicit
    # schema — the mixed directory must not hide the column)
    modern = (
        spark.read.schema(
            "o_orderkey bigint, o_custkey double, o_orderstatus string,"
            " _ingest_digest string"
        )
        .parquet(str(lake))
        .filter("_ingest_digest is not null")
    )
    assert [r.o_orderkey for r in modern.collect()] == [3]

    # full replay with a fresh checkpoint: both branches of the guard
    # (stored digest for row 3, recomputed for legacy 1/2) hold
    q2 = streaming.run_audited_ingest(
        spark, str(src), str(lake), str(tmp_path / "quarantine"),
        str(tmp_path / "ck2"), [not_null("o_custkey")],
        id_col="o_orderkey",
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(lake)).count() == 3


def test_cdc_ingest_stream(spark, tmp_path):
    """Two CDC change files applied in arrival order: inserts then an
    update+delete wave; the lake ends in the net state, and a replay
    with a fresh checkpoint converges to the same state (per-batch
    re-application is state-idempotent)."""
    import pandas as pd
    import time as _time

    from data_ingestor_gluejob_script_spark.registry import CATALOG

    spec = CATALOG["retail_subscriptions"]
    changes = tmp_path / "changes"
    changes.mkdir()
    lake = str(tmp_path / "lake")

    def frame(rows):
        cols = list(spec.columns) + ["_op"]
        data = {}
        for c in cols:
            data[c] = [r.get(c, f"x_{c}") for r in rows]
        return pd.DataFrame(data)

    frame(
        [
            {"id": "a", "created_at": "2024-01-10 10:00:00",
             "updated_at": "2024-01-10 10:00:00", "status": "active",
             "_op": "I"},
            {"id": "b", "created_at": "2024-01-10 10:00:00",
             "updated_at": "2024-01-10 10:00:00", "status": "active",
             "_op": "I"},
        ]
    ).to_parquet(changes / "c1.parquet")
    _time.sleep(0.05)
    frame(
        [
            {"id": "a", "created_at": "2024-01-10 10:00:00",
             "updated_at": "2024-01-11 10:00:00", "status": "cancelled",
             "_op": "U"},
            {"id": "b", "created_at": "2024-01-10 10:00:00",
             "updated_at": "2024-01-11 10:00:00", "_op": "D"},
        ]
    ).to_parquet(changes / "c2.parquet")

    q = streaming.run_cdc_ingest(
        spark, str(changes), lake, spec, str(tmp_path / "ck1")
    )
    q.awaitTermination(120)

    root = f"{lake}/raw/locaweb/{spec.name}"
    got = {r.id: r.status for r in spark.read.parquet(root).collect()}
    assert got == {"a": "cancelled"}

    # replay everything against the same lake with a fresh checkpoint
    q2 = streaming.run_cdc_ingest(
        spark, str(changes), lake, spec, str(tmp_path / "ck2")
    )
    q2.awaitTermination(120)
    got2 = {r.id: r.status for r in spark.read.parquet(root).collect()}
    assert got2 == {"a": "cancelled"}


def test_audited_ingest_collapses_in_batch_duplicates(spark, tmp_path):
    """The same id delivered twice inside ONE micro-batch (two files,
    one trigger) must append exactly once — the destination anti-join
    can't catch rows that aren't written yet."""
    import pandas as pd

    from data_ingestor_gluejob_script_spark.queries.audit import not_null

    src = tmp_path / "incoming"
    src.mkdir()
    pd.DataFrame(
        {"o_orderkey": [1, 1], "o_custkey": [10.0, 10.0]}
    ).to_parquet(src / "a.parquet")
    pd.DataFrame(
        {"o_orderkey": [1, 2], "o_custkey": [10.0, 11.0]}
    ).to_parquet(src / "b.parquet")

    q = streaming.run_audited_ingest(
        spark, str(src), str(tmp_path / "lake"), str(tmp_path / "qr"),
        str(tmp_path / "ck"), [not_null("o_custkey")],
        id_col="o_orderkey",
        max_files_per_trigger=2,  # both files in ONE batch
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "lake"))
    assert got.count() == 2
    assert {r.o_orderkey for r in got.collect()} == {1, 2}


@pytest.mark.slow
def test_audited_ingest_null_moving_across_columns_is_new_content(
    spark, tmp_path
):
    """Round-9 review finding (probed live): xxhash64 over per-column
    casts SKIPS null inputs, so (id, 'x', NULL) and (id, NULL, 'x')
    collided and a corrected redelivery that moves a value across
    columns was dropped by the exactly-once guard. The digest is now
    the null-safe row_digest; both shapes must land."""
    import pandas as pd

    from data_ingestor_gluejob_script_spark.queries.audit import not_null

    src = tmp_path / "in"
    src.mkdir()
    pd.DataFrame(
        {
            "o_orderkey": [3],
            "o_custkey": pd.array([None], dtype="string"),
            "o_orderstatus": pd.array(["x"], dtype="string"),
        }
    ).to_parquet(src / "b0.parquet")

    lake = str(tmp_path / "lake")
    quar = str(tmp_path / "quar")
    q = streaming.run_audited_ingest(
        spark, str(src), lake, quar,
        str(tmp_path / "ck"), [not_null("o_custkey")], "o_orderkey",
    )
    q.awaitTermination(120)
    assert spark.read.parquet(quar).count() == 1  # null custkey -> bad

    # "corrected" redelivery: same id, value moved to the OTHER column
    pd.DataFrame(
        {
            "o_orderkey": [3],
            "o_custkey": pd.array(["x"], dtype="string"),
            "o_orderstatus": pd.array([None], dtype="string"),
        }
    ).to_parquet(src / "b1.parquet")
    q = streaming.run_audited_ingest(
        spark, str(src), lake, quar,
        str(tmp_path / "ck"), [not_null("o_custkey")], "o_orderkey",
    )
    q.awaitTermination(120)
    # the corrected row is NEW content: it clean-ingests instead of
    # being absorbed by a colliding digest
    got = spark.read.parquet(lake).collect()
    assert len(got) == 1
    assert got[0]["o_custkey"] == "x" and got[0]["o_orderstatus"] is None
    # and the original quarantined row was not double-ingested
    assert spark.read.parquet(quar).count() == 1
