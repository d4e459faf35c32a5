"""Structured Streaming twins of the engine's batch surfaces.

The reference's micro-batch loop (watermark → extract → upsert →
advance, gluejob.py:616,136-139,623) runs here as real streams, all
drained with ``availableNow`` triggers. The plumbing exists once:

- ``_file_stream`` / ``_start_foreach``: parquet (or CSV) directory →
  ``foreachBatch(sink)`` with a checkpoint, so a restart resumes after
  the last committed batch. Every ingest entry point (``run_*_ingest``,
  ``stream_incremental_upsert``) supplies only its sink: the batch
  transform, the content digest that makes a replay idempotent, and
  the destination lake(s).
- ``_drain_to_memory``: the events-table twins (tumbling/session
  windows, attribution join, stateful totals, dedup) supply only their
  operator and output mode, and read the memory sink back.
- ``_ledgered_fresh`` / ``_ledgered_append``: the lake-as-state exact
  dedup shared by the doc, URL, web-curation and near-dup ingests.
"""

from __future__ import annotations

import atexit
import json
import logging
import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.diff import row_digest
from .pipeline import write_partitioned_upsert
from .registry import TableSpec
from .watermarks import WatermarkStore

log = logging.getLogger(__name__)

# NULL-payload digest sentinel: the same byte-shape as row_digest's
# NULL sentinel, and not 32 hex characters, so it can never collide
# with a real md5 digest of any payload (including the empty one).
_NULL_PAYLOAD_DIGEST = "\x00NULL\x00"


def image_payload_digest(payload_col: str = "payload") -> Column:
    """The image ingest's content digest: md5 of the payload bytes,
    with NULL payloads mapped to a sentinel DISTINCT from md5(b'') —
    the binary-column counterpart of ``row_digest``'s null
    convention (null and empty dedup separately). Shared by
    ``run_image_dedup_ingest`` and the ``migrate`` backfill tool so
    the lake and the ingest can never disagree on the convention."""
    return F.coalesce(
        F.md5(F.col(payload_col)), F.lit(_NULL_PAYLOAD_DIGEST)
    )


def read_events_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of the events table (parquet directory). The
    schema is discovered from a one-file batch read; the ns→µs rebuild
    matches queries/_util.load. A single-file path is wrapped in a
    temp directory (FileStreamSource only accepts directories)."""
    if os.path.isfile(events_dir):
        d = tempfile.mkdtemp(prefix="events-stream-")
        # The stream reads this lazily, so the wrapper can only be
        # reclaimed at interpreter exit, not here.
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        # abspath: a relative target would resolve against the temp
        # dir, leaving a dangling link.
        os.symlink(
            os.path.abspath(events_dir),
            os.path.join(d, os.path.basename(events_dir)),
        )
        events_dir = d
    batch = spark.read.parquet(events_dir)
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(events_dir)
    ts_type = dict(batch.dtypes).get("ts")
    if ts_type == "bigint":  # TIMESTAMP(NANOS) as long
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        # withWatermark rejects NTZ event-time columns
        # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); the session timezone is
        # pinned UTC, so the cast is value-preserving.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _drain_to_memory(df: DataFrame, query_name: str, mode: str) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into the
    memory sink ``query_name`` in output ``mode``, and return the sink's
    table."""
    (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(query_name)


def _start_foreach(stream: DataFrame, sink, checkpoint_dir: str):
    """Start ``stream`` into ``sink(batch_df, batch_id)`` under an
    availableNow trigger. The checkpoint makes each micro-batch commit
    once: a restart resumes after the last committed batch, and a crash
    between the sink's write and the commit replays only that batch —
    which every sink here makes idempotent. Returns the started
    StreamingQuery (caller awaits/stops)."""
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _file_stream(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    sink,
    max_files_per_trigger: int,
):
    """The ingest skeleton: stream the parquet directory ``src_dir``
    (schema probed by a batch read) at most ``max_files_per_trigger``
    files per micro-batch into ``sink`` (see :func:`_start_foreach`)."""
    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    return _start_foreach(stream, sink, checkpoint_dir)


def tumbling_window_agg(
    events: DataFrame,
    window: str = "1 hour",
    late: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling (or, with ``slide``, hopping) window
    count/sum — works on a streaming OR batch DataFrame (same plan,
    different sink rules). In batch mode ``window('1 hour').start``
    equals ``date_trunc('hour', ts)``, so it agrees row-for-row with
    ``queries.analytics.q_tumbling_window``.

    Scale: the aggregate shuffles on the window alone — at 100 TB add a
    coarse key (e.g. tenant) to the groupBy to spread state; state
    store size is bounded by the watermark horizon, not the stream
    length."""
    src = events.withWatermark("ts", late) if events.isStreaming else events
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return src.groupBy(win.alias("w")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ).select(
        F.col("w.start").alias("window_start"), "n_events", "sum_value"
    )


def run_tumbling_stream(
    spark: SparkSession,
    events_dir: str,
    query_name: str = "tumbling",
    slide: str | None = None,
) -> DataFrame:
    """Run the streaming twin to completion (availableNow) into a
    memory sink and return the result as a DataFrame. ``complete``
    output mode so windows still inside the watermark horizon are
    emitted too — making the result comparable to the batch twin."""
    agg = tumbling_window_agg(read_events_stream(spark, events_dir), slide=slide)
    return _drain_to_memory(agg, query_name, "complete")


def session_window_agg(
    events: DataFrame, gap: str = "5 minutes", late: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (inactivity gap) — streaming or batch.
    In streaming mode, session state is bounded by the watermark
    horizon: a session older than ``late`` can never be re-opened, so
    the store evicts it."""
    src = events.withWatermark("ts", late) if events.isStreaming else events
    return (
        src.groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def run_session_stream(
    spark: SparkSession, events_dir: str, query_name: str = "sessions"
) -> DataFrame:
    """Drive the session-window twin to completion (availableNow,
    complete mode) into a memory sink."""
    agg = session_window_agg(read_events_stream(spark, events_dir))
    return _drain_to_memory(agg, query_name, "complete")


ATTRIBUTION_WINDOW = "1 hour"


def click_attribution_join(
    purchases: DataFrame, clicks: DataFrame, late: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: every (purchase, click) pair for
    the same user where the click precedes the purchase by at most
    ATTRIBUTION_WINDOW — the classic attribution shape, and the one
    core Structured Streaming operator class the other twins don't
    exercise.

    Works on streaming OR batch inputs (same plan). In streaming mode
    both sides carry event-time watermarks and the join condition is a
    bounded time interval, so each side's state store holds only rows
    inside ``late + ATTRIBUTION_WINDOW`` of the other side's watermark
    — state is bounded by the time horizon, not the stream length.
    INNER join on purpose: inner stream-stream joins emit matches as
    they occur (the watermark only drives state eviction), so an
    availableNow run produces exactly the batch twin's rows; an outer
    variant would hold unmatched rows until the watermark passes.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", late)
        c = c.withWatermark("click_ts", late)
    cond = (
        (p["user_id"] == c["click_user"])
        & (
            c["click_ts"]
            >= p["purchase_ts"] - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")
        )
        & (c["click_ts"] <= p["purchase_ts"])
    )
    return (
        p.join(c, cond, "inner")
        .select(
            "user_id",
            "purchase_id",
            "click_id",
            "purchase_ts",
            "click_ts",
            (
                F.unix_timestamp("purchase_ts")
                - F.unix_timestamp("click_ts")
            ).alias("lag_seconds"),
        )
    )


def run_attribution_stream(
    spark: SparkSession, events_dir: str, query_name: str = "attribution"
) -> DataFrame:
    """Drive the attribution join to completion (availableNow, append —
    the only mode stream-stream joins support) into a memory sink."""
    events = read_events_stream(spark, events_dir)
    out = click_attribution_join(
        events.filter(F.col("event_type") == "purchase"),
        events.filter(F.col("event_type") == "click"),
    )
    return _drain_to_memory(out, query_name, "append")


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (n_events, sum_value) maintained in state-store
    state across micro-batches, emitting the updated totals each batch.

    This is the escape hatch for stateful logic Spark's built-in
    windowed aggregates can't express (per-key accumulators, custom
    eviction, model state). State is partitioned by the group key, so
    it scales with distinct users per executor, not stream length;
    Arrow batches keep the Python boundary vectorized.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_totals(
    spark: SparkSession,
    events_dir: str,
    query_name: str = "user_totals",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drive the stateful operator over the events table with an
    availableNow trigger into a memory sink; returns one FINAL row per
    user. The update-mode memory sink accumulates one row per user per
    micro-batch with no batch column, so "last emission wins" must be
    computed: the per-user counters are cumulative (monotone), so the
    row with the greatest ``n_events`` (tie: greatest ``sum_value``)
    IS the final state — selected with a per-user window."""
    agg = stateful_user_totals(
        read_events_stream(
            spark, events_dir, max_files_per_trigger=max_files_per_trigger
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n_events").desc(), F.col("sum_value").desc()
    )
    return (
        _drain_to_memory(agg, query_name, "update")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stream_exact_dedup(
    events: DataFrame, keys: list[str] | None = None, late: str = "2 hours"
) -> DataFrame:
    """Streaming twin of the exact-dedup operator
    (``queries.textops.q_exact_dedup_docs`` / the K1 upsert's keyed
    dedup): drop re-deliveries of the same key as they arrive.

    Streaming mode uses ``dropDuplicatesWithinWatermark`` — dedup
    state for a key is held only until the event-time watermark passes
    its first sighting + ``late``, so the state store is bounded by the
    duplicate-arrival horizon, not the stream length (the property that
    makes this safe on an unbounded 100 TB/day feed; plain streaming
    ``dropDuplicates`` would grow state forever).

    The streaming path keeps the FIRST arrival per key. Batch files
    carry no arrival order, so the batch twin keeps a deterministic
    proxy instead: the row with the minimum ``ts`` per key (requiring
    a ``ts`` column, like the streaming path's watermark does), with a
    64-bit hash of the remaining payload columns as tie-break. A bare
    ``dropDuplicates(keys)`` would keep a partitioning-dependent
    arbitrary row — fine for byte-identical re-deliveries, silently
    nondeterministic when duplicate keys carry differing payloads.
    Hashing instead of sorting the full payload keeps the
    per-partition sort narrow (key + ts + one long) regardless of row
    width, and tolerates unorderable payload types (MapType) that a
    full-row ORDER BY would reject. The two twins agree exactly on
    replayable input whose duplicates arrive within the horizon in
    event-time order; for out-of-order duplicates with differing
    payloads the batch twin is the reproducible one. Cost: one shuffle
    on the keys either way, plus the batch side's narrow sort.
    """
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", late).dropDuplicatesWithinWatermark(
            keys
        )
    if "ts" not in events.columns:
        raise ValueError(
            "stream_exact_dedup batch twin requires a 'ts' column "
            "(the streaming path's watermark column) to pick a "
            "deterministic survivor per key"
        )
    payload = [c for c in events.columns if c not in keys and c != "ts"]
    tie = (
        F.xxhash64(*[F.col(c).cast("string") for c in payload])
        if payload
        else F.lit(0)
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("ts").asc_nulls_last(), tie.asc_nulls_last()
    )
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_dedup_stream(
    spark: SparkSession,
    events_dir: str,
    query_name: str = "dedup",
    keys: list[str] | None = None,
    late: str = "2 hours",
) -> DataFrame:
    """Drive the streaming dedup to completion (availableNow, append
    mode — dedup emits each surviving row exactly once) into a memory
    sink. ``late`` must cover the event-time span a replayed batch can
    straddle: rows older than (max seen ts - late) are late data and
    dropped, so catch-up runs over historical files need a horizon at
    least as wide as the backlog."""
    deduped = stream_exact_dedup(
        read_events_stream(spark, events_dir), keys=keys, late=late
    )
    return _drain_to_memory(deduped, query_name, "append")


def stream_incremental_upsert(
    spark: SparkSession,
    source_dir: str,
    spec: TableSpec,
    lake_root: str,
    store: WatermarkStore,
    checkpoint_dir: str,
    t0: str,
    company: str = "Locaweb",
):
    """Streaming ingestion: watch ``source_dir`` for CSV drops of one
    table and upsert each micro-batch into the lake through the same
    K1 writer the batch pipeline uses.

    Returns the started StreamingQuery (caller awaits/stops). Each
    micro-batch advances the table watermark to ``t0`` in memory; the
    caller commits the store when the stream drains — preserving the
    crash-safe commit-at-end protocol across micro-batches.
    """
    stream = (
        spark.readStream.options(sep=spec.csv_sep, header=True)
        .schema(spec.spark_schema)
        .csv(source_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_partitioned_upsert(spark, batch_df, spec, lake_root, company)
        store.advance(spec.name, t0)

    return _start_foreach(stream, sink, checkpoint_dir)


def _vocab_fc(spark: SparkSession, vocab_dir: str):
    """Hadoop ``FileContext`` + helpers for the vocab lake's pointer
    ops. FileContext (not the checksummed ``FileSystem``) is the same
    primitive Structured Streaming's checkpoint file manager uses for
    its metadata log: it offers an ATOMIC rename-with-OVERWRITE and
    writes no ``.crc`` sidecars that a later rename could orphan. One
    abstraction for every scheme — ``file:`` in tests, ``hdfs:``/
    ``s3a:`` in production (object stores make the rename
    copy+delete, not atomic — there, publish through a manifest/
    metastore entry instead; same caveat as before this port)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(vocab_dir)
    # Resolve the scheme through the path's FileSystem (handles
    # scheme-less local paths, which FileContext.getFileContext(URI)
    # would reject).
    fs_uri = root.getFileSystem(conf).getUri()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(fs_uri, conf)
    return jvm, fc, root


def read_vocab_lake(spark: SparkSession, vocab_dir: str) -> DataFrame | None:
    """Read the current version of a ``run_vocab_ingest`` lake (token
    rows + doc-id ledger rows) via its ``_CURRENT`` pointer; ``None``
    when no version has been published yet."""
    jvm, fc, root = _vocab_fc(spark, vocab_dir)
    cur = jvm.org.apache.hadoop.fs.Path(root, "_CURRENT")
    if not fc.util().exists(cur):
        return None
    stream = fc.open(cur)
    try:
        version = (
            jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            .strip()
        )
    finally:
        stream.close()
    return spark.read.parquet(
        str(jvm.org.apache.hadoop.fs.Path(root, version))
    )


def df_table_from_vocab_lake(
    spark: SparkSession, vocab_dir: str
) -> DataFrame | None:
    """The BM25 dictionary — (token, df) — read from a
    ``run_vocab_ingest`` lake: ``n_docs`` of the token rows IS the
    document frequency, maintained incrementally as the corpus
    arrives. This closes the index-time loop for
    ``bm25_search_join(df_table=...)`` (r15): at 100 TB the dictionary
    is never recomputed over the corpus — the streaming twin folds
    each batch's delta into the Heaps-law-sized lake, and query
    batches read it as a broadcast-sized side input. Parity pinned by
    tests/test_corpusstats.py::test_bm25_dictionary_from_vocab_ingest.
    ``None`` before the first published version."""
    lake = read_vocab_lake(spark, vocab_dir)
    if lake is None:
        return None
    return lake.filter(F.col("token").isNotNull()).select(
        "token", F.col("n_docs").alias("df")
    )


def bm25_stats_from_vocab_lake(
    spark: SparkSession, vocab_dir: str
) -> tuple[DataFrame, int, float] | None:
    """Everything ``bm25_search_join`` needs, from the incrementally
    maintained vocab lake, so a query batch runs ZERO corpus-side
    statistics jobs: (df_table, n_docs, avg_dl). n_docs counts the
    lake's doc-id ledger rows; avg_dl = Σ n_occurrences / n_docs (the
    textbook definition — exact-equal to the recomputed per-doc mean
    when every ledgered document has tokenizable text, see the
    bm25_search_join docstring). Both reads are lake-sized
    (Heaps-law vocabulary + doc-id ledger), never corpus-sized.
    Passing n_docs asserts the one-row-per-doc_id precondition — true
    by construction for an ingested corpus (the vocab ingest's ledger
    anti-join merges each doc_id exactly once). ``None`` before the
    first published version."""
    lake = read_vocab_lake(spark, vocab_dir)
    if lake is None:
        return None
    tok = lake.filter(F.col("token").isNotNull())
    stats = lake.agg(
        F.sum("n_occurrences").alias("total_tokens"),
        F.count(F.col("doc_id")).alias("n_docs"),
    ).first()
    n_docs = int(stats["n_docs"])
    avg_dl = (stats["total_tokens"] or 0) / n_docs if n_docs else 0.0
    return (
        tok.select("token", F.col("n_docs").alias("df")),
        n_docs,
        float(avg_dl),
    )


def run_vocab_ingest(
    spark: SparkSession,
    docs_dir: str,
    vocab_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Streaming incremental corpus vocabulary: each micro-batch of
    documents folds its token statistics into a persisted
    (token, n_docs, n_occurrences) lake — the streaming twin of
    ``corpusstats.vocab_frame`` for a corpus that arrives over time.
    After any prefix of batches the lake equals the batch vocabulary
    of the documents ingested so far (asserted in tests).

    Scale shape: the per-batch delta is the same two partial-aggregated
    shuffles as the batch operator, sized by the BATCH; the merge
    unions two vocabulary-sized frames and re-aggregates — Heaps' law
    keeps the vocabulary far smaller than the corpus, which is what
    makes the rewrite-the-lake merge viable (a corpus-sized state
    would need a partitioned upsert instead, like the K1 writer).

    Exactly-once by CONTENT, not batch position: the lake carries a
    ledger of merged doc_ids alongside the token rows (token rows have
    ``doc_id`` null, ledger rows have ``token`` null — one frame, one
    write, so the two sections can never diverge). Each batch
    anti-joins the ledger and folds in only unseen documents, so a
    replayed batch (crash between write and checkpoint commit), a
    rerun against a fresh checkpoint, OR a rerun whose batches GROUP
    the files differently all merge each document exactly once. (A
    batch-id guard — the first design here — breaks on regrouping:
    batch 0 of a fresh checkpoint can contain new files, and skipping
    "already-merged batch 0" silently drops them.) The ledger is
    doc-id-sized, the vocabulary Heaps-law-sized — both far smaller
    than the corpus.

    Crash-safe publication: each merge writes a NEW versioned
    directory (``v{batch_id}``) and then atomically flips the
    ``_CURRENT`` pointer file (write-temp + rename). A crash mid-write
    leaves the pointer on the previous version — an in-place
    ``mode("overwrite")`` of the lake would instead delete the
    accumulated state first and let a restart mistake the wreckage
    for "no lake yet". The pointer swap goes through the Hadoop
    ``FileContext`` API (atomic rename-with-overwrite — the same
    primitive Structured Streaming's checkpoint metadata log uses), so
    it works unchanged for ``file:``/``hdfs:`` paths; on an object
    store the rename degrades to copy+delete — there, publish the
    version through a manifest/metastore entry instead. Read the lake
    through ``read_vocab_lake``.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from .queries.corpusstats import vocab_frame

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        lake = read_vocab_lake(spark, vocab_dir)
        if lake is not None:
            cur = lake.filter(F.col("doc_id").isNull()).select(
                "token", "n_docs", "n_occurrences"
            )
            ledger = lake.filter(F.col("doc_id").isNotNull()).select("doc_id")
            fresh = batch_df.join(ledger, "doc_id", "left_anti")
        else:
            cur, ledger, fresh = None, None, batch_df
        merged = vocab_frame(fresh)
        if cur is not None:
            merged = (
                cur.unionByName(merged)
                .groupBy("token")
                .agg(
                    F.sum("n_docs").alias("n_docs"),
                    F.sum("n_occurrences").alias("n_occurrences"),
                )
            )
        new_ledger = fresh.select("doc_id").distinct()
        if ledger is not None:
            new_ledger = ledger.unionByName(new_ledger)
        out = merged.withColumn("doc_id", F.lit(None).cast("long")).unionByName(
            new_ledger.select(
                F.lit(None).cast("string").alias("token"),
                F.lit(None).cast("long").alias("n_docs"),
                F.lit(None).cast("long").alias("n_occurrences"),
                "doc_id",
            )
        )
        version = f"v{batch_id}"
        jvm, fc, root = _vocab_fc(spark, vocab_dir)
        hpath = jvm.org.apache.hadoop.fs.Path
        out.write.mode("overwrite").parquet(str(hpath(root, version)))
        # Publish: write-temp + ATOMIC rename-with-overwrite through
        # the Hadoop FileContext API (see _vocab_fc) — portable to any
        # path scheme, unlike the driver-local open/os.replace this
        # replaced (r8 verdict watch item).
        tmp = hpath(root, "_CURRENT.tmp")
        flags = jvm.java.util.EnumSet.of(
            jvm.org.apache.hadoop.fs.CreateFlag.CREATE,
            jvm.org.apache.hadoop.fs.CreateFlag.OVERWRITE,
        )
        # create(Path, EnumSet, CreateOpts...) is varargs — py4j needs
        # the trailing array spelled out; createParent covers a lake
        # root that doesn't exist yet.
        create_opts = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.CreateOpts, 1
        )
        create_opts[0] = (
            jvm.org.apache.hadoop.fs.Options.CreateOpts.createParent()
        )
        stream = fc.create(tmp, flags, create_opts)
        try:
            stream.write(bytearray(version.encode("utf-8")))
        finally:
            stream.close()
        rename_opts = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        rename_opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(tmp, hpath(root, "_CURRENT"), rename_opts)
        # Best-effort prune of superseded versions (post-publication,
        # so a failure here can't lose the current one).
        for st in fc.util().listStatus(root):
            name = st.getPath().getName()
            if name.startswith("v") and name != version:
                try:
                    fc.delete(st.getPath(), True)
                except Exception as ex:  # noqa: BLE001 — best-effort
                    log.warning(
                        "vocab-version prune failed for %s: %s",
                        st.getPath(), ex,
                    )

    return _file_stream(
        spark, docs_dir, checkpoint_dir, sink, max_files_per_trigger
    )


def run_doc_dedup_ingest(
    spark: SparkSession,
    docs_dir: str,
    lake_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Continuous-crawl document ingestion with exact dedup against
    the accumulated lake: each micro-batch of documents is deduped
    within itself (min doc_id per md5(text)) and anti-joined against
    the digests already in the lake before appending — the streaming
    composition of ``exact_dedup_frame`` for a corpus that arrives
    over time instead of all at once.

    Scale shape: the lake carries a persisted ``text_md5`` column, so
    the anti-join's lake side is a column-pruned scan of 32-byte
    digests (ReadSchema: text_md5 only), never the document bodies;
    the join shuffles the SMALL batch side against it. State lives in
    the lake itself — no in-memory dedup state to bound, and a
    restart resumes from the checkpoint + whatever the lake already
    holds (re-appending a half-written batch is prevented by the
    digest anti-join, making the sink idempotent).

    Returns the started StreamingQuery (caller awaits/stops).
    """
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Null-safe digest via row_digest: md5(NULL) is NULL and every
        # equality join on it silently drops the row — a missing-text
        # document would never be ingested at all. row_digest gives
        # NULL text a sentinel DISTINCT from '' (deterministic;
        # null-text docs dedup together, separately from empty-text).
        # Migration note: lakes written by the pre-sentinel
        # md5(coalesce(text,'')) convention stored a different
        # text_md5 for null-text rows — on replay such a row no longer
        # matches its stored digest and would be ingested a second
        # time; upgrade an existing lake with the one-time
        # migrate.backfill_doc_dedup_lake (file-scoped, crash-
        # resumable; rewrites text_md5 = row_digest(["text"])).
        _ledgered_append(
            spark, batch_df, lake_dir, "text_md5", row_digest(["text"])
        )

    return _file_stream(
        spark, docs_dir, checkpoint_dir, sink, max_files_per_trigger
    )


def run_url_dedup_ingest(
    spark: SparkSession,
    docs_dir: str,
    lake_dir: str,
    checkpoint_dir: str,
    url_col: str = "url",
    max_files_per_trigger: int = 1,
):
    """Continuous-crawl ingestion deduped by NORMALIZED URL — the
    streaming twin of ``urlops.url_dedup_frame``, same lake-as-state
    shape as ``run_doc_dedup_ingest``: each micro-batch is parsed and
    normalized (``parse_urls_frame``), collapsed within itself to one
    survivor per ``url_norm``, and anti-joined against the ``url_md5``
    digests already in the lake before appending. First-arrival wins
    across batches (crawl order), min doc_id within a batch — the
    same precedence the content-keyed twins use.

    Malformed URLs (NULL ``url_norm``) digest under a per-row
    sentinel ('\\x00' + doc_id): two malformed rows never collapse,
    while a crash-replayed malformed row still matches its own ledger
    entry — append idempotence holds for them too. The lake persists
    the parse columns alongside the document, so downstream domain
    stats/caps read them for free.

    Scale shape: identical to the doc-dedup ingest — the anti-join's
    lake side is a column-pruned 32-byte digest scan; only the small
    batch shuffles. Returns the started StreamingQuery.
    """
    from .queries.urlops import parse_urls_frame

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_urls_frame(batch_df, url_col)
        # NULL-id fallback inside the sentinel: md5(NULL) would give
        # these rows a NULL digest, and a NULL ledger key matches
        # nothing — replay would double-ingest them. With the '\x01'
        # stand-in, all malformed null-id rows share one digest and
        # collapse to one survivor (the null-text convention of the
        # doc twin).
        key = F.coalesce(
            F.col("url_norm"),
            F.concat(
                F.lit("\x00"),
                F.coalesce(F.col("doc_id").cast("string"), F.lit("\x01")),
            ),
        )
        _ledgered_append(spark, parsed, lake_dir, "url_md5", F.md5(key))

    return _file_stream(
        spark, docs_dir, checkpoint_dir, sink, max_files_per_trigger
    )


def run_web_curation_ingest(
    spark: SparkSession,
    pages_dir: str,
    lake_dir: str,
    checkpoint_dir: str,
    min_line_words: int = 5,
    min_kept_lines: int = 1,
    max_files_per_trigger: int = 1,
):
    """Continuous web-crawl CURATION ingest — the streaming twin of
    ``webpipeline.curate_pages``: each micro-batch of raw (doc_id,
    url, html) pages runs the shared map-only chain
    (``curate_page_maps``: HTML extract → Unicode normalize → C4
    line/page rules → token count), then the lake-ledgered exact
    dedup of ``run_doc_dedup_ingest`` (collapse within the batch,
    anti-join the lake's persisted ``text_md5`` digests, append).

    The WARC container parse is NOT in the streaming path: Spark's
    streaming file sources are line/columnar formats only, so a
    crawl tails into parquet page batches (the fetcher's natural
    landing format) and containers are unpacked by the batch-side
    ``sources.warc.read_warc`` upstream. Everything downstream of
    the container is identical batch vs stream — pinned by the
    twin-equality test.

    Scale shape: curation is embarrassingly parallel maps (two Arrow
    passes + Catalyst C4) over each bounded micro-batch; dedup state
    IS the lake (no in-memory state to bound), whose anti-join side
    is a column-pruned 32-byte digest scan. Pages failing C4 die
    before the digest ever exists — the lake only ledgers curated
    text, so a page whose boilerplate changes but whose prose
    doesn't still dedups against its earlier crawl.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from .queries.webpipeline import curate_page_maps

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        curated = curate_page_maps(
            batch_df,
            min_line_words=min_line_words,
            min_kept_lines=min_kept_lines,
        )
        _ledgered_append(
            spark, curated, lake_dir, "text_md5", row_digest(["text"])
        )

    return _file_stream(
        spark, pages_dir, checkpoint_dir, sink, max_files_per_trigger
    )


#: Broadcast-contract ceiling for gated-ingest micro-batches, in ROWS
#: (a cheap proxy for the 8 GB broadcast hard limit: digest/band rows
#: are ~50-100 bytes, so the default leaves an order of magnitude of
#: headroom). The ingest twins deliberately FORCE broadcasts of the
#: batch side — there is no shuffle fallback by design — so an
#: oversized batch must fail with an actionable message, not an opaque
#: broadcast OOM mid-query (r13 advice).
BATCH_BROADCAST_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_STREAM_BATCH_MAX_ROWS", 10_000_000)
)


def _assert_broadcast_contract(batch_df: DataFrame, what: str) -> None:
    """Raise a clear error when a micro-batch exceeds the broadcast
    contract. A bounded ``limit(cap+1).count()`` probe — never a full
    count — so the guard costs one capped scan of the batch file(s),
    which the sink was about to read anyway."""
    cap = BATCH_BROADCAST_MAX_ROWS
    if batch_df.limit(cap + 1).count() > cap:
        raise ValueError(
            f"{what}: micro-batch exceeds the broadcast contract "
            f"(> {cap} rows). The gated ingests broadcast the batch "
            "side BY CONSTRUCTION (no shuffle fallback) — lower "
            "maxFilesPerTrigger or pre-split oversized input files; "
            "to raise the ceiling set SPARK_GRAFT_STREAM_BATCH_MAX_ROWS."
        )


def _ledgered_fresh(
    spark: SparkSession,
    batch_df: DataFrame,
    sig_dir: str,
    digest_col: str,
    digest_expr,
    id_col: str,
):
    """Shared micro-batch preamble of the near-dup ingest twins
    (text MinHash / image dHash): stamp the content digest, collapse
    in-batch exact duplicates to ONE deterministic survivor per digest
    (min id, nulls last, remaining columns tie-broken by hash), read
    the signature-lake state, and anti-join the batch against the
    digests already ledgered. Returns (fresh, state) — ``state`` is
    None only when no signature lake exists yet; any OTHER read
    failure aborts the batch (treating e.g. a corrupt footer as
    "first batch" would skip dedup and double-ingest on replay)."""
    _assert_broadcast_contract(batch_df, "ledgered ingest")
    hashed = batch_df.withColumn(digest_col, digest_expr)
    payload = [
        c for c in hashed.columns if c not in (digest_col, id_col)
    ]
    tie = (
        F.xxhash64(*[F.col(c).cast("string") for c in payload])
        if payload
        else F.lit(0)
    )
    w = Window.partitionBy(digest_col).orderBy(
        F.col(id_col).asc_nulls_last(), tie.asc_nulls_last()
    )
    fresh = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    _recover_lake_swap(spark, sig_dir)
    state = _read_parquet_or_none(spark, sig_dir)
    if state is not None:
        # The ledger is the big side and grows every batch, and a
        # plain left_anti can only BUILD on it (Spark supports
        # LeftAnti broadcast build-right only) — so the direct form
        # shuffles the whole ledger per batch unless AQE happens to
        # flip it at runtime (it does at smoke scale; it will NOT once
        # the batch side exceeds the broadcast threshold). Decompose
        # instead: ledger ⋉ broadcast(batch digests) is a MAP-ONLY
        # ledger scan emitting at most a batch's worth of already-seen
        # digests, then the batch anti-joins that small seen-set —
        # the zero-state-shuffle shape is now guaranteed by
        # construction, not by optimizer size estimates. Measured at
        # sf10 (SCALE.md round-13 streaming section): the residual
        # per-batch growth is the linear ledger SCAN itself, by
        # design, with bucketized band layout as the documented
        # evolution for high-rate ingest.
        seen = state.select(digest_col).join(
            F.broadcast(fresh.select(digest_col)), digest_col, "left_semi"
        )
        fresh = fresh.join(F.broadcast(seen), digest_col, "left_anti")
    return fresh, state


def _ledgered_append(
    spark: SparkSession,
    rows: DataFrame,
    lake_dir: str,
    digest_col: str,
    digest_expr,
) -> None:
    """Sink tail of the doc, URL and web-curation ingests, where the
    lake doubles as its own digest ledger: :func:`_ledgered_fresh`
    against ``lake_dir`` (id ``doc_id``), then one file per
    broadcast-contract-bounded batch and the shared incremental tail
    compaction — the lake's file count is a per-batch scan cost. Crash
    ordering is safe: a replay re-appends nothing (digest guard) and
    ``_ledgered_fresh`` recovers any interrupted swap before reading
    the lake."""
    fresh, _ = _ledgered_fresh(
        spark, rows, lake_dir, digest_col, digest_expr, "doc_id"
    )
    fresh.coalesce(1).write.mode("append").parquet(lake_dir)
    _maybe_compact_lakes(spark, lake_dir)


#: Bucket fan-out of the band ledgers' prune column (``band_pfx``).
#: Not a partition DIRECTORY — appends write one pfx-sorted file per
#: batch and rebuilds write N_BAND_PFX pfx-clustered files, so the
#: prune rides on parquet row-group stats instead of directory
#: listings (the directory-per-bucket cut measurably lost to its own
#: tiny-file opens at 24 batches). Raising it sharpens the
#: small-batch prune at the cost of coarser clustering per file.
N_BAND_PFX = 8


def _band_pfx(key) -> Column:
    """The ``band_pfx`` prune bucket of a 64-bit band key."""
    return F.pmod(key, F.lit(N_BAND_PFX)).cast("int")


def _touched_pfx(band_rows: DataFrame, key) -> list[int]:
    """The ``band_pfx`` buckets a batch's band rows touch — metadata-
    sized (≤ N_BAND_PFX values), pushed to the parquet row-group stats
    of the pfx-sorted ledger files."""
    return [r[0] for r in band_rows.select(_band_pfx(key)).distinct().collect()]


def _read_parquet_or_none(
    spark: SparkSession, path: str, schema: T.StructType | None = None
):
    """Parquet read (under ``schema`` when given) that treats ONLY
    path-not-found as 'no lake yet'. Any other failure (corrupt
    footer, permission) aborts the batch — treating it as first-batch
    would skip dedup state and double-ingest on replay."""
    from pyspark.errors import AnalysisException

    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as ex:
        if "PATH_NOT_FOUND" not in str(ex):
            raise
        return None


#: MinHash slots are fixed 4-hex-char md5 prefixes (the family the
#: python-twin differential pins), so a full signature packs into one
#: 32-char string the ledger stores as a single column.
_SLOT_W = 4


def _sig_cat_col(slot_cols: list[str]):
    """The packed-signature column: s0..s7 concatenated. One string
    per ledger row instead of eight — the probe decodes 2 columns, not
    12 (the r14 smoke showed per-row parquet decode, not the join,
    dominating the residual per-batch slope)."""
    return F.concat(*[F.col(s) for s in slot_cols])


def _cat_slot(sig_col, i: int):
    """Slot ``i`` unpacked from a packed signature."""
    return F.substring(sig_col, i * _SLOT_W + 1, _SLOT_W)


def _est_jaccard_vs_cat(sig_col) -> Column:
    """Estimated Jaccard between the probe row's s0..s7 columns and a
    packed reference signature — substring compares on CANDIDATE rows
    only (the post-join set, batch-sized)."""
    from .queries.textops import N_MINHASH

    eq = [
        F.when(F.col(f"s{i}") == _cat_slot(sig_col, i), 1).otherwise(0)
        for i in range(N_MINHASH)
    ]
    total = eq[0]
    for e in eq[1:]:
        total = total + e
    return total / F.lit(N_MINHASH)


def _ref_band_hash(band_idx_col, sig_col):
    """The reference row's TRUE band hash at the probe row's band
    index, recomputed from the packed signature exactly as
    banded_signature_frame computes it (md5 over '|'-joined slots).
    Equality with the probe's band_hash is the collision verify: a
    64-bit band_key collision must not manufacture a candidate the
    batch twin would never see (with 2 bands × 4 slots and tau 0.75,
    pigeonhole does NOT guarantee a colliding high-Jaccard pair shares
    a real band). Matching on the PROBE's band index is sufficient AND
    exact: equal hashes there mean the pair truly shares that band —
    the LSH candidate condition itself."""
    from .queries.textops import MINHASH_BANDS

    out = None
    for bi, slots in enumerate(MINHASH_BANDS):
        h = F.md5(
            F.concat_ws("|", *[_cat_slot(sig_col, s) for s in slots])
        )
        out = (
            F.when(band_idx_col == bi, h)
            if out is None
            else out.when(band_idx_col == bi, h)
        )
    return out


def _minhash_band_ledger_rows(sig_rows: DataFrame) -> DataFrame:
    """Precomputed probe rows of the text near-dup BAND LEDGER — the
    r13-documented evolution, implemented in r14: instead of deriving
    band rows for the FULL signature lake on every micro-batch
    (md5-per-band + explode over every ledger row, the measured
    ~12 µs/ledger-doc·batch slope in SCALE.md r13), the band rows are
    computed ONCE when a signature enters the ledger and stored in a
    lake the per-batch probe just scans.

    Layout — THREE columns, deliberately (the first r14 cut stored
    band_idx/band_hash/s0..s7 alongside and the smoke showed the
    per-row decode of 12 columns dominating the probe):

    - ``band_key`` = xxhash64(band_idx, band_hash): the narrow 64-bit
      join key. Key collisions are verified away on the candidate set
      via :func:`_ref_band_hash` (md5 recompute from the packed
      signature), so correctness never rests on 64 bits.
    - ``sig_cat``: the packed 32-char signature — serves BOTH the
      collision verify and the inline estimated-Jaccard, with no join
      back to the signature lake.
    - ``band_pfx`` = pmod(band_key, N_BAND_PFX): the prune column; the
      append path sorts on it so row-group stats can skip buckets a
      small batch doesn't touch.

    Input: any frame carrying s0..s7 (sub-shingle rows — NULL slots —
    have no bands and are excluded)."""
    from .queries.textops import N_MINHASH, banded_signature_frame

    slot_cols = [f"s{i}" for i in range(N_MINHASH)]
    src = sig_rows.filter(F.col("s0").isNotNull()).select(
        F.lit("").alias("doc_id"), *slot_cols
    )
    bands = banded_signature_frame(src)
    key = F.xxhash64("band_idx", "band_hash")
    return bands.select(
        key.alias("band_key"),
        _sig_cat_col(slot_cols).alias("sig_cat"),
        _band_pfx(key).alias("band_pfx"),
    )


def _phash_band_ledger_rows(
    sig_rows: DataFrame, max_hamming: int
) -> DataFrame:
    """Precomputed probe rows of the IMAGE near-dup band ledger — the
    dHash twin of :func:`_minhash_band_ledger_rows`. Bit-slice band
    values are exact longs (no hash, no collision caveat), so the
    probe joins directly on (band_idx, band_val); the full ``phash``
    rides along for the inline hamming verify. ``band_pfx`` =
    pmod(xxhash64(band_idx, band_val), N_BAND_PFX) is the partition
    column — computed the same way on the batch side for the static
    prune. Input: any frame carrying a ``phash`` column (NULL-phash
    rows have no bands and are excluded)."""
    from .operators.multimodal import phash_bands

    src = sig_rows.filter(F.col("phash").isNotNull()).select(
        F.lit("").alias("doc_id"), "phash"
    )
    bands = phash_bands(src, max_hamming, id_col="doc_id")
    return bands.select(
        "band_idx",
        "band_val",
        "phash",
        _band_pfx(F.xxhash64("band_idx", "band_val")).alias("band_pfx"),
    )


def _append_band_ledger(band_rows: DataFrame, band_dir: str) -> None:
    """Append one batch's band rows as ONE file, sorted by the prune
    column. One file per batch keeps directory listings (and the
    footer-open cost every probe pays) linear in batch count with the
    smallest possible constant — the first r14 cut wrote
    N_BAND_PFX files per batch via partitionBy and the smoke showed
    the accumulated tiny-file opens eating the derivation win. The
    in-file sort puts row-group min/max stats on band_pfx for the
    small-batch prune."""
    (
        band_rows.coalesce(1)
        .sortWithinPartitions("band_pfx")
        .write.mode("append")
        .parquet(band_dir)
    )


#: Rebuild (= compact) the band ledger when its directory accumulates
#: this many data files. Appends add one file per batch; the rebuild
#: rewrites the lake from the signature lake in N_BAND_PFX clustered
#: files, so probe-side open cost stays bounded at any batch count
#: and crash-replay duplicate rows are deduplicated in passing.
BAND_LEDGER_COMPACT_FILES = 96


def _banding_tag_of(spark: SparkSession, band_dir: str) -> str | None:
    """The banding-parameter tag recorded in ``band_dir`` (a zero-byte
    ``_BANDING_<tag>`` marker file — underscore-prefixed, so parquet
    readers ignore it), or None when the ledger predates tagging."""
    jvm, fs = _fs_of(spark, band_dir)
    p = jvm.org.apache.hadoop.fs.Path(band_dir)
    if not fs.exists(p):
        return None
    for s in fs.listStatus(p):
        name = s.getPath().getName()
        if name.startswith("_BANDING_"):
            return name[len("_BANDING_"):]
    return None


def _write_banding_tag(
    spark: SparkSession, band_dir: str, tag: str
) -> None:
    jvm, fs = _fs_of(spark, band_dir)
    p = jvm.org.apache.hadoop.fs.Path(f"{band_dir}/_BANDING_{tag}")
    fs.create(p, True).close()


def _rebuild_band_ledger(
    spark: SparkSession, state, band_dir: str, derive_rows
) -> None:
    """Derive the whole band ledger from the signature lake and
    replace ``band_dir`` — a write-to-staging + swap (an in-place
    overwrite would delete the input files mid-read). Serves the
    structural duties one code path: migration (pre-r14 ledgers have
    no band lake), banding-parameter change (the ``_BANDING_<tag>``
    mismatch), and crash-replay healing (the signature lake is the
    single source of truth; band rows are a pure function of it, so
    duplicates a replay double-appended vanish).

    Scale contract (r16, r15 verdict #2): this IS a full-dataset
    rewrite, and deliberately so — the three duties above all require
    re-deriving every row, and the global ``repartitionByRange``
    clustering on ``band_pfx`` cannot be produced file-locally. It is
    acceptable at any corpus scale because the band lake is DERIVED
    metadata (~3 packed columns per signature row, ~50 bytes/doc —
    O(distinct docs), not O(corpus bytes)) and the rebuild now fires
    only on those structural events, NOT on routine file-count
    growth: routine compaction is the incremental tail-pack in
    :func:`_ensure_band_ledger`, O(new band rows) per event. The
    delete+rename swap's brief absence window is likewise safe
    precisely because the lake is derived: any reader that finds it
    absent rebuilds it from the signature lake (the self-healing
    path), unlike the source-of-truth lakes whose scoped protocol
    never removes the live directory."""
    staging = band_dir.rstrip("/") + "._rebuild"
    (
        derive_rows(state)
        .repartitionByRange(N_BAND_PFX, F.col("band_pfx"))
        .sortWithinPartitions("band_pfx")
        .write.mode("overwrite")
        .parquet(staging)
    )
    jvm, fs = _fs_of(spark, band_dir)
    dst = jvm.org.apache.hadoop.fs.Path(band_dir)
    src = jvm.org.apache.hadoop.fs.Path(staging)
    if fs.exists(dst):
        fs.delete(dst, True)
    if not fs.rename(src, dst):
        raise IOError(f"band-ledger swap failed: {staging} -> {band_dir}")


def _ensure_band_ledger(
    spark: SparkSession, state, band_dir: str, derive_rows,
    banding_tag: str | None = None,
):
    """The band-ledger frame, rebuilt from the signature lake when
    absent (self-healing migration for pre-r14 ledgers; also the
    manual recovery story — delete ``band_dir`` and re-run) and
    compacted through the same rebuild once per-batch appends
    accumulate past BAND_LEDGER_COMPACT_FILES files.

    ``banding_tag`` (r15) pins parameterized bandings: the tag is
    stored in the lake as a ``_BANDING_<tag>`` marker at rebuild time
    and compared on every ensure — a mismatch (parameter changed
    across runs, or a pre-tag ledger) auto-rebuilds from the signature
    lake with the CURRENT banding instead of silently probing slices
    of the wrong width (advice r14: a changed ``max_hamming`` against
    an old ledger made the candidate join miss every near-dup).

    r16 (r15 verdict #2): routine file-count compaction no longer
    goes through the full rebuild — past BAND_LEDGER_COMPACT_FILES
    sub-target files the tail is bin-packed incrementally (same
    scoped swap protocol as the source-of-truth lakes, preserving the
    in-file ``band_pfx`` sort for row-group pruning), O(new band
    rows) per event instead of O(all signatures). The full rebuild
    remains for the structural duties only (absent lake, banding
    mismatch — see :func:`_rebuild_band_ledger`'s scale contract).
    Crash-replay double-appended band rows therefore persist until a
    structural rebuild instead of being healed at the next threshold
    — harmless by design: duplicate band rows only duplicate
    candidate pairs, and the drop set is a DISTINCT over digests
    (see _two_lake_append)."""
    if state is None:
        return None
    _recover_lake_swap(spark, band_dir)
    statuses = _data_file_statuses(spark, band_dir)
    n_files = len(statuses)
    stale_banding = (
        banding_tag is not None
        and n_files > 0
        and _banding_tag_of(spark, band_dir) != banding_tag
    )
    # SUB-TARGET count drives the pack trigger (review r16: the total
    # count includes graduated files, which never shrink — once the
    # lake held >threshold at-target files the condition would be
    # permanently true and the runt repacked EVERY batch).
    n_small = sum(
        1 for _, b in statuses if b < _COMPACT_TARGET_BYTES
    )
    if n_files == 0 or stale_banding:
        _rebuild_band_ledger(spark, state, band_dir, derive_rows)
        if banding_tag is not None:
            _write_banding_tag(spark, band_dir, banding_tag)
    elif n_small > BAND_LEDGER_COMPACT_FILES:
        ev = _compact_append_lake(
            spark, band_dir, sort_within="band_pfx", statuses=statuses
        )
        if ev is not None:
            COMPACTION_EVENTS.append(ev)
    return _read_parquet_or_none(spark, band_dir)


#: Compact an APPEND-ONLY source-of-truth lake (signature ledger,
#: curated corpus) when it accumulates this many SUB-TARGET data
#: files. The band lake heals by re-deriving from the signature lake;
#: these lakes ARE the truth, so compaction is a count-preserving
#: tail rewrite behind a recovery marker (r14 verdict #2: one
#: coalesced file per batch kept per-batch file-listing cost growing
#: without bound at long horizons — the exact slope r14 measured and
#: killed for band rows). Files already at/above the target size are
#: never re-read or rewritten (r15 verdict #1), so per-compaction
#: cost is O(new data + one runt file) — bounded by the target size —
#: at ANY lake size, and file count past compaction is
#: ceil(lake_bytes / target) + a handful: proportional to data, never
#: capped into over-large files.
APPEND_LAKE_COMPACT_FILES = int(
    os.environ.get("SPARK_GRAFT_LAKE_COMPACT_FILES", "96")
)

#: Target on-disk bytes per compacted file (local sandbox sizing; a
#: real deployment tunes toward its block size). Files at/above this
#: are "graduated": compaction never touches them again.
_COMPACT_TARGET_BYTES = int(
    os.environ.get(
        "SPARK_GRAFT_LAKE_COMPACT_TARGET_BYTES", str(64 * 1024 * 1024)
    )
)

#: Observability for smokes/tests: one dict per compaction event, in
#: order — {path, small_files, bytes_read, lake_bytes, n_out}.
#: ``bytes_read`` is the per-compaction cost term the incremental
#: protocol bounds (≲ target + threshold×batch bytes, NEVER the lake
#: size — compare against ``lake_bytes`` to see the gap). Process-
#: local, append-only.
COMPACTION_EVENTS: list[dict] = []


def _lake_marker(path: str) -> str:
    return path.rstrip("/") + "._swap_pending"


def _lake_staging(path: str) -> str:
    return path.rstrip("/") + "._compacted"


def _fs_of(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _data_file_statuses(
    spark: SparkSession, path: str
) -> list[tuple[str, int]]:
    """(filename, bytes) of every parquet data file directly under
    ``path`` — one listStatus call, metadata-only."""
    jvm, fs = _fs_of(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return []
    return [
        (s.getPath().getName(), int(s.getLen()))
        for s in fs.listStatus(p)
        if s.getPath().getName().endswith(".parquet")
    ]


def _write_swap_manifest(
    spark: SparkSession, path: str, staged: list[str], replaced: list[str]
) -> None:
    """Publish the swap marker ATOMICALLY (write to ``<marker>.tmp``,
    rename into place): marker-present must imply the manifest is
    complete, because recovery replays exactly what it lists."""
    jvm, fs = _fs_of(spark, path)
    body = json.dumps({"staged": staged, "replaced": replaced}).encode()
    tmp = jvm.org.apache.hadoop.fs.Path(_lake_marker(path) + ".tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(body))
    out.close()
    marker = jvm.org.apache.hadoop.fs.Path(_lake_marker(path))
    if fs.exists(marker):
        fs.delete(marker, False)
    if not fs.rename(tmp, marker):
        raise IOError(f"swap-manifest publish failed: {path}")


def _read_swap_manifest(spark: SparkSession, path: str) -> dict | None:
    """The pending-swap manifest, or None for a LEGACY (pre-r16,
    zero-byte) marker whose protocol was a whole-directory swap."""
    jvm, fs = _fs_of(spark, path)
    marker = jvm.org.apache.hadoop.fs.Path(_lake_marker(path))
    if fs.getFileStatus(marker).getLen() == 0:
        return None
    stream = fs.open(marker)
    try:
        body = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(body)


def _finish_scoped_swap(
    spark: SparkSession, path: str, staged: list[str], replaced: list[str]
) -> None:
    """Idempotently complete a scoped swap from its manifest: publish
    each staged pack file into the lake (skip any already published),
    delete each replaced small file (skip any already deleted), then
    drop staging and the marker. Every step is a re-runnable FS op, so
    a crash at ANY point is healed by re-running from the manifest."""
    jvm, fs = _fs_of(spark, path)
    staging_p = _lake_staging(path)
    for name in staged:
        src = jvm.org.apache.hadoop.fs.Path(f"{staging_p}/{name}")
        dst = jvm.org.apache.hadoop.fs.Path(f"{path}/{name}")
        if fs.exists(src):
            if fs.exists(dst):
                fs.delete(src, False)  # already published by a prior run
            elif not fs.rename(src, dst):
                raise IOError(f"pack-file publish failed: {dst}")
        elif not fs.exists(dst):
            raise IOError(
                f"scoped swap lost pack file {name} for {path} — "
                "neither staged nor published"
            )
    for name in replaced:
        fp = jvm.org.apache.hadoop.fs.Path(f"{path}/{name}")
        if fs.exists(fp):
            fs.delete(fp, False)
    staging = jvm.org.apache.hadoop.fs.Path(staging_p)
    if fs.exists(staging):
        fs.delete(staging, True)
    fs.delete(jvm.org.apache.hadoop.fs.Path(_lake_marker(path)), False)


def _recover_lake_swap(spark: SparkSession, path: str) -> None:
    """Finish (or abandon) a compaction swap a crash interrupted.
    Protocol (see :func:`_compact_append_lake`): the marker is created
    only AFTER the staging pack is complete, so marker-present means
    the manifest it carries is authoritative — replay it idempotently
    (:func:`_finish_scoped_swap`). Marker-absent: any leftover staging
    is an incomplete pack from a crash mid-write — the lake is
    untouched, drop the orphan.

    A LEGACY zero-byte marker (pre-r16 whole-directory protocol) is
    still honored: staging there is a complete full copy, so the old
    delete+rename swap is redone. New swaps never enter that protocol
    — the lake directory itself is no longer deleted, so readers can
    at worst observe transient duplicates mid-crash (resolved by this
    recovery), never an absent corpus (advice r15)."""
    jvm, fs = _fs_of(spark, path)
    marker = jvm.org.apache.hadoop.fs.Path(_lake_marker(path))
    staging = jvm.org.apache.hadoop.fs.Path(_lake_staging(path))
    dst = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(marker):
        if fs.exists(staging):
            fs.delete(staging, True)
        # a crash inside _write_swap_manifest (tmp created, rename not
        # reached) leaves an orphan .tmp beside the lake — marker
        # absent means the swap never committed, so drop it too
        tmp = jvm.org.apache.hadoop.fs.Path(_lake_marker(path) + ".tmp")
        if fs.exists(tmp):
            fs.delete(tmp, False)
        return
    manifest = _read_swap_manifest(spark, path)
    if manifest is not None:
        _finish_scoped_swap(
            spark, path, manifest["staged"], manifest["replaced"]
        )
        return
    # legacy whole-directory swap: staging is the authoritative copy
    if fs.exists(staging):
        if fs.exists(dst):
            fs.delete(dst, True)
        if not fs.rename(staging, dst):
            raise IOError(f"lake swap recovery failed: {path}")
    # else: crash after the rename — swap already complete
    fs.delete(marker, False)


def read_append_lake(spark: SparkSession, path: str) -> DataFrame:
    """Recovery-aware reader for an append-only source-of-truth lake
    (advice r15): completes any crash-interrupted compaction swap
    BEFORE reading, so a consumer never observes the mid-swap state
    (transient duplicate rows between pack-publish and small-file
    delete). External/downstream readers of a lake that a streaming
    ingest compacts should read through this, or run
    ``compact_append_lakes``' recovery themselves after an unclean
    shutdown; the ingest entry points already do."""
    _recover_lake_swap(spark, path)
    return spark.read.parquet(path)


def _compact_append_lake(
    spark: SparkSession,
    path: str,
    target_bytes: int | None = None,
    sort_within: str | None = None,
    statuses: list[tuple[str, int]] | None = None,
) -> dict | None:
    """Count-preserving INCREMENTAL small-file compaction for an
    append-only lake: bin-pack only the sub-target tail (the one-file-
    per-batch appends plus at most one under-target "runt" pack from
    the previous cycle) into target-sized files; files already at the
    target are never re-read or rewritten. Per-compaction bytes read
    are therefore bounded by ~(target + threshold × batch bytes)
    regardless of lake size — the r15 full-lake rewrite was O(lake)
    per compaction with a 64-file output cap that blew the file-size
    target past 4 GB lakes; both terms are gone (r15 verdict #1).

    Crash-safe against every window, scoped to the files being
    replaced:

    1. pack the small files into staging (``<path>._compacted``) —
       a crash here leaves the lake untouched (orphan staging dropped
       by recovery);
    2. atomically publish the swap manifest marker listing staged
       pack files + replaced small files — from here the swap is
       committed and recovery replays it to completion;
    3. publish pack files into the lake (unique part-file names — no
       collisions), delete replaced small files, drop staging + the
       marker — each step idempotent from the manifest.

    The lake directory is never deleted: a reader mid-crash sees at
    worst transient duplicates (pack published, originals not yet
    deleted), healed by the next recovery — never an absent corpus.
    Returns the observability event dict, or None when there is
    nothing worth packing (≤1 small file)."""
    target = int(target_bytes or _COMPACT_TARGET_BYTES)
    # callers on the per-batch hot path pass the listing they already
    # made for the threshold check — one listStatus RPC, not two
    files = (
        statuses
        if statuses is not None
        else _data_file_statuses(spark, path)
    )
    small = [(n, b) for n, b in files if b < target]
    if len(small) <= 1:
        return None
    small_bytes = sum(b for _, b in small)
    # Floor division, no cap: n_out <= small_bytes/target, so every
    # pack file lands AT or above the target and GRADUATES — the
    # +1 form produced files just under target that stayed "small"
    # forever and were re-read every cycle (caught by the first r16
    # smoke artifact: bytes_read == lake_bytes at every event).
    # Under one target's worth of tail -> a single sub-target "runt"
    # that rides into the next cycle; the amortized rewrite count per
    # byte stays O(1).
    n_out = max(1, small_bytes // target)
    staging_p = _lake_staging(path)
    jvm, fs = _fs_of(spark, path)
    staging = jvm.org.apache.hadoop.fs.Path(staging_p)
    if fs.exists(staging):
        fs.delete(staging, True)
    packed = spark.read.parquet(
        *[f"{path}/{n}" for n, _ in small]
    ).repartition(int(n_out))
    if sort_within is not None:
        # preserve an in-file clustering contract (e.g. the band
        # lake's band_pfx row-group stats) across the repack
        packed = packed.sortWithinPartitions(sort_within)
    packed.write.mode("overwrite").parquet(staging_p)
    staged = [n for n, _ in _data_file_statuses(spark, staging_p)]
    _write_swap_manifest(spark, path, staged, [n for n, _ in small])
    _finish_scoped_swap(spark, path, staged, [n for n, _ in small])
    return {
        "path": path,
        "small_files": len(small),
        "bytes_read": small_bytes,
        "lake_bytes": sum(b for _, b in files),
        "n_out": len(staged),
    }


def compact_append_lakes(
    spark: SparkSession,
    *paths: str,
    target_bytes: int | None = None,
    force: bool = False,
    threshold: int | None = None,
) -> list[dict]:
    """Maintenance seam for append-lake compaction, callable OUT-OF-
    BAND (r15 verdict #1): a deployment that doesn't want compaction
    inside the streaming micro-batch sets
    ``SPARK_GRAFT_LAKE_COMPACT_INLINE=0`` on the ingest and runs this
    on its own cadence instead. Recovers any pending swap first, then
    compacts each lake whose sub-target file count exceeds the
    threshold (or unconditionally under ``force``). Single-writer
    contract: do not run concurrently with a live ingest writing the
    same lakes — stop the stream or use the inline path.

    Returns the compaction events performed (also appended to
    ``COMPACTION_EVENTS``)."""
    done = []
    for p in paths:
        _recover_lake_swap(spark, p)
        target = int(target_bytes or _COMPACT_TARGET_BYTES)
        statuses = _data_file_statuses(spark, p)
        n_small = sum(1 for _, b in statuses if b < target)
        if force or n_small > (
            threshold if threshold is not None else APPEND_LAKE_COMPACT_FILES
        ):
            ev = _compact_append_lake(
                spark, p, target_bytes=target, statuses=statuses
            )
            if ev is not None:
                COMPACTION_EVENTS.append(ev)
                done.append(ev)
    return done


def _maybe_compact_lakes(spark: SparkSession, *paths: str) -> None:
    """Inline (per-micro-batch) compaction trigger. Skipped entirely
    when ``SPARK_GRAFT_LAKE_COMPACT_INLINE=0`` — the deployment then
    owns compaction via :func:`compact_append_lakes` out-of-band."""
    if os.environ.get("SPARK_GRAFT_LAKE_COMPACT_INLINE", "1") == "0":
        return
    compact_append_lakes(spark, *paths)


def _newcomer_loses(ref_id, my_id) -> Column:
    """Arrival-order precedence for the near-dup ingest twins: a
    newcomer drops to anything already in the state, to a smaller id
    within its own batch, and — when its own id is NULL — to any
    non-null-id batch row (nulls sort last, matching the exact
    collapse). Two null-id rows have no order and never drop each
    other; NULL comparisons coalesce to False rather than silently
    poisoning the filter (the review-finding this encodes: an id-keyed
    anti-join could never drop a NULL-id newcomer at all, so the drop
    set must be keyed on the content digest and this predicate must
    be null-aware)."""
    return (
        F.col("_r_state")
        | F.coalesce(ref_id < my_id, F.lit(False))
        | (ref_id.isNotNull() & my_id.isNull())
    )


def _two_lake_append(
    spark: SparkSession,
    retained: DataFrame,
    sig_rows: DataFrame,
    lake_dir: str,
    sig_dir: str,
    digest_col: str,
    band_rows: DataFrame | None = None,
    band_dir: str | None = None,
    banding_tag: str | None = None,
) -> None:
    """Exactly-once tail of the near-dup ingest twins: corpus append
    FIRST, guarded by its own digest anti-join; then the batch's band
    rows; signature ledger LAST. A crash between the appends leaves
    digests out of the ledger, so the replayed batch reprocesses them
    (the keep decisions are deterministic, so the retained set
    recomputes identically) and the corpus guard turns the re-append
    into a no-op. The reverse order would ledger the batch before its
    rows exist — replay would skip it and the retained rows would be
    lost.

    The band ledger writes BEFORE the signature ledger for the same
    reason: a crash in between can only leave the batch's band rows
    DOUBLE-appended on replay (harmless — the drop set is a DISTINCT
    over digests, and a band-ledger rebuild from the signature lake
    heals the duplication), never leave signatures ledgered without
    their band rows, which would permanently exempt those documents
    from every future near-dup check."""
    # Pin the batch's keep decisions once: the guard below broadcasts
    # the retained digests, which would otherwise re-run the whole
    # band-join pipeline a second (and third) time per batch.
    pinned = retained.persist()
    retained = pinned
    try:
        _recover_lake_swap(spark, lake_dir)
        corpus = _read_parquet_or_none(spark, lake_dir)
        if corpus is not None:
            # same decomposition as _ledgered_fresh: the corpus is the
            # big growing side, so probe it map-only with the broadcast
            # batch digests instead of shuffling it under a left_anti
            # every batch
            seen = corpus.select(digest_col).join(
                F.broadcast(retained.select(digest_col)),
                digest_col,
                "left_semi",
            )
            retained = retained.join(
                F.broadcast(seen), digest_col, "left_anti"
            )
        # Single-file appends: the rows come out of the ledger
        # preamble's window SHUFFLE, so an uncoalesced append writes
        # up to a shuffle-width of small files per batch — and both
        # lakes are re-listed (one footer open per file) by EVERY
        # subsequent batch's guard/anti-join scans, a per-batch cost
        # that grows with batch count (measured as part of the r14
        # smoke's residual slope). Batches are broadcast-sized by
        # contract, so one write task per lake is the right shape.
        retained.coalesce(1).write.mode("append").parquet(lake_dir)
        if band_rows is not None:
            _append_band_ledger(band_rows, band_dir)
            if banding_tag is not None:
                # idempotent re-create: the lake was either just born
                # from this run's rows (first batch — _ensure never ran
                # because there was no state yet) or already verified/
                # rebuilt against this tag by _ensure_band_ledger
                _write_banding_tag(spark, band_dir, banding_tag)
        sig_rows.coalesce(1).write.mode("append").parquet(sig_dir)
        # Threshold rebuild-as-compaction for BOTH source-of-truth
        # lakes (r14 verdict #2): past APPEND_LAKE_COMPACT_FILES the
        # one-file-per-batch appends are rewritten into byte-sized
        # files behind the swap marker, so every later batch's
        # listing + footer-open cost drops back to a handful of files.
        # Runs AFTER the ledger append: a crash anywhere in the swap
        # replays the batch, whose appends are no-ops (digest guards),
        # and _recover_lake_swap finishes the swap from the marker.
        _maybe_compact_lakes(spark, lake_dir, sig_dir)
    finally:
        pinned.unpersist()


def run_neardup_ingest(
    spark: SparkSession,
    docs_dir: str,
    lake_dir: str,
    sig_dir: str,
    checkpoint_dir: str,
    tau: float | None = None,
    max_files_per_trigger: int = 1,
    band_dir: str | None = None,
):
    """Continuous-crawl ingestion with MinHash NEAR-duplicate dedup
    against everything already seen — the streaming composition of
    ``textops.minhash_dedup_frame`` for a corpus arriving over time.

    Two lakes:
    - ``lake_dir``: the retained corpus (what training reads).
    - ``sig_dir``: the dedup state — one row per DISTINCT text ever
      seen (retained or dropped): (doc_id, text_md5, s0..s7, with the
      slots NULL for sub-shingle docs). ~50 bytes/doc regardless of
      document size, so the state scan stays cheap at any corpus
      scale, and recording DROPPED docs' signatures too is what makes
      the drop decision batching-invariant (a near-dup of a dropped
      doc is still a near-dup of something seen).

    Per micro-batch:
    1. exact collapse within the batch (min doc_id per md5, the
       doc-dedup ingest's deterministic-survivor window) and ledger
       anti-join on ``sig_dir``'s text_md5 — replay idempotence.
    2. sign the fresh docs (map-only minhash_signature_frame).
    3. candidates: fresh band rows joined against the union of the
       signature lake's band rows (derived by a map over the pruned
       signature scan — 2 md5s per state row, cheaper than persisting
       a 2x-larger band table) and the batch's own band rows
       restricted to smaller doc_ids. Signatures ride on the band
       rows; estimated Jaccard >= tau drops the newcomer.
    4. append ALL fresh signature rows to ``sig_dir`` and the
       retained documents to ``lake_dir``.

    Precedence is arrival order (anything already in the state lake
    beats any newcomer), and smaller-doc_id within a batch. When
    batches arrive in doc_id order this reproduces the batch twin's
    corpus EXACTLY (pinned by tests/test_neardup_ingest.py).

    Scale shape: the batch side is small BY CONTRACT — its digests and
    band rows are explicitly broadcast (r13) so the ledger/corpus
    sides are map-only column-pruned scans at any state size, never
    per-batch shuffles. The contract is GUARDED (r14): a batch over
    ``BATCH_BROADCAST_MAX_ROWS`` fails fast with an actionable message
    (lower ``maxFilesPerTrigger`` / pre-split files) instead of an
    opaque broadcast OOM — there is deliberately no shuffle fallback.

    Band ledger (r14, ``band_dir``, default ``{sig_dir}_bands``): the
    state side of the candidate join is a PRECOMPUTED band-row lake —
    band rows are derived once when a signature is ledgered, not
    re-derived from the full signature lake every batch (the measured
    ~12 µs/ledger-doc·batch slope of the r13 design, SCALE.md). The
    probe joins on a 64-bit ``band_key`` with true-band equality
    verified post-join, prunes ``band_pfx`` partitions the batch
    doesn't touch, and the lake is self-healing: absent (pre-r14
    state) it is rebuilt from the signature lake, which also heals
    crash-replay double-appends (see _ensure_band_ledger /
    _two_lake_append ordering).
    """
    from .queries.textops import (
        MINHASH_DEDUP_TAU,
        N_MINHASH,
        banded_signature_frame,
        minhash_signature_frame,
    )

    if tau is None:
        tau = MINHASH_DEDUP_TAU
    if band_dir is None:
        band_dir = sig_dir.rstrip("/") + "_bands"
    slot_cols = [f"s{i}" for i in range(N_MINHASH)]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        fresh, state = _ledgered_fresh(
            spark, batch_df, sig_dir, "text_md5",
            row_digest(["text"]), "doc_id",
        )
        # The fresh slice is consumed by the signing pass, the band
        # join (twice: probe side and in-batch reference side), and
        # both appends — pin it so the lake isn't re-scanned per use.
        fresh = fresh.persist()
        try:
            # sign keyed on text_md5, NOT doc_id: after the exact
            # collapse text_md5 is unique and non-null per fresh row,
            # while a NULL doc_id would miss the equi-join back and
            # ledger NULL signature slots for a doc that HAS a
            # signature — silently exempting its future near-dups.
            # PINNED: the signing pass (shingle + per-shingle md5) is
            # the batch's expensive map — every downstream consumer
            # (ledger append, band rows, probe, in-batch refs) reads
            # the persisted rows instead of re-signing.
            sig_md5 = minhash_signature_frame(
                fresh.select(F.col("text_md5").alias("doc_id"), "text")
            ).withColumnRenamed("doc_id", "text_md5")
            sig_rows = fresh.select("doc_id", "text_md5").join(
                sig_md5, "text_md5", "left"
            ).persist()
            # probe band rows carry BOTH keys: doc_id for precedence,
            # text_md5 (non-null) for the drop set (_newcomer_loses) —
            # plus the 64-bit band_key the candidate join hashes on
            new_keys = (
                banded_signature_frame(
                    sig_rows.filter(F.col("s0").isNotNull())
                    .select(F.col("text_md5").alias("doc_id"), *slot_cols)
                )
                .withColumnRenamed("doc_id", "text_md5")
                .join(sig_rows.select("text_md5", "doc_id"), "text_md5")
                .withColumn("band_key", F.xxhash64("band_idx", "band_hash"))
            )
            batch_ref = new_keys.select(
                F.col("doc_id").alias("_r_doc_id"),
                "band_key",
                _sig_cat_col(slot_cols).alias("_r_sig"),
                F.lit(False).alias("_r_state"),
            )
            ref = batch_ref
            band_state = _ensure_band_ledger(
                spark, state, band_dir, _minhash_band_ledger_rows
            )
            if band_state is not None:
                pfx = _touched_pfx(new_keys, F.col("band_key"))
                # NULL typed as the batch's own id type: a bare
                # string-NULL would make unionByName widen the batch
                # branch's _r_doc_id to string and silently turn the
                # in-batch precedence comparison lexicographic
                id_type = fresh.schema["doc_id"].dataType
                ref = ref.unionByName(
                    band_state.filter(F.col("band_pfx").isin(pfx)).select(
                        F.lit(None).cast(id_type).alias("_r_doc_id"),
                        "band_key",
                        F.col("sig_cat").alias("_r_sig"),
                        F.lit(True).alias("_r_state"),
                    )
                )
            # broadcast the batch's band rows so the band-ledger side
            # of the candidate join stays a map-only pruned scan —
            # without it the whole ledger's band rows re-shuffle every
            # batch (r13 sf10 smoke). The join hashes on the narrow
            # long key; the TRUE band hash is recomputed from the
            # reference's packed signature on the candidate set and
            # compared (see _ref_band_hash), so a 64-bit key collision
            # can never manufacture a candidate the batch twin would
            # not produce.
            dropped = (
                F.broadcast(new_keys)
                .join(ref, "band_key")
                .filter(
                    _ref_band_hash(F.col("band_idx"), F.col("_r_sig"))
                    == F.col("band_hash")
                )
                .filter(
                    _newcomer_loses(F.col("_r_doc_id"), F.col("doc_id"))
                )
                .filter(_est_jaccard_vs_cat(F.col("_r_sig")) >= F.lit(tau))
                .select("text_md5")
                .distinct()
            )
            retained = fresh.join(
                F.broadcast(dropped), "text_md5", "left_anti"
            )
            try:
                _two_lake_append(
                    spark,
                    retained,
                    sig_rows,
                    lake_dir,
                    sig_dir,
                    "text_md5",
                    band_rows=_minhash_band_ledger_rows(sig_rows),
                    band_dir=band_dir,
                )
            finally:
                sig_rows.unpersist()
        finally:
            fresh.unpersist()

    return _file_stream(
        spark, docs_dir, checkpoint_dir, sink, max_files_per_trigger
    )


def run_image_dedup_ingest(
    spark: SparkSession,
    media_dir: str,
    lake_dir: str,
    sig_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    max_files_per_trigger: int = 1,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    band_dir: str | None = None,
):
    """Continuous image ingestion with perceptual (dHash) near-dup
    dedup against everything already seen — the streaming composition
    of ``operators.multimodal.image_dedup_frame``, structured exactly
    like the MinHash text twin (``run_neardup_ingest``).

    Two lakes:
    - ``lake_dir``: the retained images (payloads included).
    - ``sig_dir``: the dedup state — one row per DISTINCT payload
      ever seen, retained or dropped: (id, payload_md5, phash).
      16 + 8 bytes per image regardless of payload size, so the state
      scan stays cheap at any corpus scale; recording DROPPED images'
      hashes is what makes the keep decision batching-invariant (a
      near-dup of a dropped image is still a near-dup of something
      seen).

    Per micro-batch:
    1. exact collapse on md5(payload) within the batch (min id
       survivor) and ledger anti-join on ``sig_dir``'s payload_md5 —
       replay idempotence and cross-batch exact dedup in one narrow
       join.
    2. dHash the fresh payloads (Arrow map — payload bytes never
       shuffle; 8-byte hashes do).
    3. candidates: fresh band rows (``phash_bands`` — the SAME
       pigeonhole bit-slices the batch twin uses) joined against the
       state's band rows plus the batch's own; a row drops iff a
       state row or a smaller-id batch row lies within
       ``max_hamming`` bits (``bit_count(xor)`` verified inline).
    4. append ALL fresh signature rows to ``sig_dir``, retained
       images to ``lake_dir`` — corpus append FIRST, ledger LAST,
       same crash-replay argument as ``run_neardup_ingest``: a crash
       between the writes replays the batch, the deterministic
       decisions recompute identically, and the corpus guard
       (payload_md5 anti-join) makes the re-append a no-op.

    Precedence is arrival order (state beats any newcomer), then
    smaller id within a batch — with id-ordered arrival this
    reproduces ``image_dedup_frame``'s retained set exactly (pinned
    by tests/test_image_dedup.py).

    Band ledger (r14, ``band_dir``, default ``{sig_dir}_bands``):
    same precomputed band-row lake as the text twin — state band rows
    are derived once at ledger time, partition-pruned on ``band_pfx``
    per batch, and self-heal from the signature lake when absent.
    Band values depend on ``max_hamming``: the parameter is persisted
    in the lake as a ``_BANDING_mh<k>`` marker, and a run with a
    different value (or against a pre-marker ledger) auto-rebuilds the
    band lake from the signature lake with the current banding —
    slices of the wrong width would otherwise silently miss every
    near-dup candidate.
    """
    from .operators.multimodal import dhash64, phash_bands

    if band_dir is None:
        band_dir = sig_dir.rstrip("/") + "_bands"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # md5 of NULL is NULL — it would silently fall out of every
        # join — so NULL payloads digest to a SENTINEL distinct from
        # md5(b'') (the text twin's row_digest convention: null and
        # empty dedup separately; digesting NULL as the empty payload
        # collapsed the two and permanently excluded the loser —
        # round-10 advice finding). The sentinel is not 32 hex chars,
        # so it can never collide with a real digest. Pre-sentinel
        # ledgers digested NULL as md5(b''): on such a lake a replayed
        # NULL-payload row re-ingests once under the new convention —
        # backfill the LAKE's payload_md5 with
        # migrate.backfill_digest_column(..., image_payload_digest())
        # (the ledger row for a DROPPED null payload is not
        # recoverable: signatures store no payload).
        fresh, state = _ledgered_fresh(
            spark, batch_df, sig_dir, "payload_md5",
            image_payload_digest(payload_col), id_col,
        )
        # consumed by the dHash pass, the band join, and both appends
        fresh = fresh.persist()
        try:
            # hash keyed on payload_md5, NOT the id: after the exact
            # collapse payload_md5 is unique and non-null per fresh
            # row, while a NULL id would miss the equi-join back and
            # persist a NULL phash into the ledger — silently exempting
            # that image (and all its future near-dups) from dedup
            sig_pm = dhash64(
                fresh, id_col="payload_md5", payload_col=payload_col
            )
            # PINNED: the dHash pass (Arrow map over payload bytes) is
            # the batch's expensive step — the ledger append, the band
            # rows, and the probe all read the persisted rows instead
            # of re-hashing payloads
            sig_rows = fresh.select(id_col, "payload_md5").join(
                sig_pm, "payload_md5", "left"
            ).persist()
            # probe band rows carry BOTH keys: the id for precedence,
            # payload_md5 (non-null) for the drop set — see
            # _newcomer_loses
            new_bands = phash_bands(
                sig_rows.filter(F.col("phash").isNotNull()).select(
                    "payload_md5", "phash"
                ),
                max_hamming,
                id_col="payload_md5",
            ).join(sig_rows.select("payload_md5", id_col), "payload_md5")
            batch_ref = new_bands.select(
                F.col(id_col).alias("_r_id"),
                F.col("phash").alias("_r_phash"),
                "band_idx",
                "band_val",
                F.lit(False).alias("_r_state"),
            )
            ref = batch_ref
            band_state = _ensure_band_ledger(
                spark,
                state,
                band_dir,
                lambda s: _phash_band_ledger_rows(s, max_hamming),
                banding_tag=f"mh{max_hamming}",
            )
            if band_state is not None:
                pfx = _touched_pfx(
                    new_bands, F.xxhash64("band_idx", "band_val")
                )
                # NULL typed as the batch's own id type (see text twin)
                id_type = fresh.schema[id_col].dataType
                ref = ref.unionByName(
                    band_state.filter(F.col("band_pfx").isin(pfx)).select(
                        F.lit(None).cast(id_type).alias("_r_id"),
                        F.col("phash").alias("_r_phash"),
                        "band_idx",
                        "band_val",
                        F.lit(True).alias("_r_state"),
                    )
                )
            ham = F.bit_count(
                F.col("phash").bitwiseXOR(F.col("_r_phash"))
            )
            # same broadcast discipline as the text twin: the batch's
            # band rows broadcast so the ledger side stays a map-only
            # pruned scan per batch
            dropped = (
                F.broadcast(new_bands)
                .join(ref, ["band_idx", "band_val"])
                .filter(_newcomer_loses(F.col("_r_id"), F.col(id_col)))
                .filter(ham <= F.lit(max_hamming))
                .select("payload_md5")
                .distinct()
            )
            retained = fresh.join(
                F.broadcast(dropped), "payload_md5", "left_anti"
            )
            try:
                _two_lake_append(
                    spark,
                    retained,
                    sig_rows,
                    lake_dir,
                    sig_dir,
                    "payload_md5",
                    band_rows=_phash_band_ledger_rows(
                        sig_rows, max_hamming
                    ),
                    band_dir=band_dir,
                    banding_tag=f"mh{max_hamming}",
                )
            finally:
                sig_rows.unpersist()
        finally:
            fresh.unpersist()

    return _file_stream(
        spark, media_dir, checkpoint_dir, sink, max_files_per_trigger
    )


def _collapse_batch(batch_df: DataFrame, id_col: str):
    """Shared micro-batch preamble for the gated ingests: ONE
    deterministic survivor per id (all-NULL ids count as one id; the
    tie-break is the null-safe row_digest so different-content rows
    never compare equal), stamped with the null-safe content digest
    over every source column. Returns (collapsed frame, source column
    list) — the digest guard recomputes from src_cols later, so the
    list is captured BEFORE the digest column is added."""
    src_cols = list(batch_df.columns)
    payload = [c for c in src_cols if c != id_col]
    tie = row_digest(payload) if payload else F.lit("0")
    w = Window.partitionBy(id_col).orderBy(tie.asc_nulls_last())
    collapsed = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("_ingest_digest", row_digest(src_cols))
    )
    return collapsed, src_cols


def _guarded_append(
    spark: SparkSession, side_df: DataFrame, out_dir: str, src_cols
) -> None:
    """Append with the content-digest exactly-once guard. The guard
    key is the destination's PERSISTED ``_ingest_digest`` column
    wherever one exists — a column-pruned 32-byte scan per row — and
    is recomputed from the stored source columns ONLY for legacy rows
    written before the digest column existed (their stored digest
    reads as NULL; ``row_digest`` itself never returns NULL, so
    NULL ⇔ legacy). The destination is read with an EXPLICIT schema
    (projected off the side frame), so a mixed-schema directory can't
    flip column visibility on footer sampling — files lacking the
    column surface it as NULL deterministically, and the parquet
    reader prunes the legacy branch's row groups via null-count stats
    when every file is modern. Recomputing digests for EVERY
    destination row (the round-9 behavior) made guard IO O(total lake
    payload) per micro-batch and growing (round-9 advice finding);
    this keeps full-history protection at one narrow column per
    modern row. Only "no destination yet" may skip the guard;
    anything else aborts rather than double-ingest.

    Source-schema evolution caveat: a stored digest was computed over
    the column set at WRITE time. If the source later gains a column
    and redelivers old content (now with the new column NULL), the
    current-schema side digest differs and the replay guard misses —
    run a one-time digest backfill (rewrite ``_ingest_digest`` under
    the new column set) when evolving the source schema. Within one
    stream run the schema is pinned at start, so crash-replay
    idempotence is unaffected."""
    expected = side_df.select(*src_cols, "_ingest_digest").schema
    dest = _read_parquet_or_none(spark, out_dir, schema=expected)
    if dest is None:
        fresh = side_df
    else:
        stored = dest.filter(
            F.col("_ingest_digest").isNotNull()
        ).select("_ingest_digest")
        legacy = dest.filter(F.col("_ingest_digest").isNull()).select(
            row_digest(src_cols).alias("_ingest_digest")
        )
        fresh = side_df.join(
            stored.unionByName(legacy), "_ingest_digest", "left_anti"
        )
    fresh.write.mode("append").parquet(out_dir)


def run_audited_ingest(
    spark: SparkSession,
    src_dir: str,
    lake_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    checks,
    id_col: str,
    max_files_per_trigger: int = 1,
):
    """Streaming ingestion with a data-quality gate: each micro-batch
    is split by the declarative row-level ``checks`` (queries/audit.py)
    — clean rows append to the lake, failing rows append to a
    quarantine lake WITH their ``_violations`` diagnosis column, so
    nothing is silently dropped and nothing bad is published. The
    streaming composition of ``split_quarantine``.

    Scale shape: the split is one map over the batch (flag column +
    two filters off one persisted frame — the batch scans once, not
    once per side); the idempotence anti-joins read only the persisted
    ``_ingest_digest`` column of each destination (a column-pruned
    8-byte scan — the run_doc_dedup_ingest text_md5 ledger pattern).

    Exactly-once by CONTENT: every row carries an ``_ingest_digest``
    (hash of all source columns), and each side anti-joins its
    destination's existing digests before appending. A replayed batch
    (crash between the two writes, or between write and checkpoint
    commit) re-appends nothing — including the half-written case where
    only one side landed — while a redelivery with the SAME id but
    DIFFERENT content (a correction, or a second distinct violation)
    is new content and lands: an id-only guard would silently drop it
    (the r8 advice finding). Within one batch the collapse is still
    per id (one deterministic survivor); across batches the
    destinations are insert-only version logs per id — consumers
    wanting latest-per-id semantics use the CDC path. A quarantined
    id does NOT block later clean ingestion of a corrected redelivery
    with the same id: the lake and quarantine guards are independent.
    The digest is the null-safe ``operators.diff.row_digest`` (md5
    with a NULL sentinel and a unit separator) — a bare
    ``xxhash64(cast…)`` silently SKIPS null inputs, so (3, 'x', NULL)
    and (3, NULL, 'x') would collide and a corrected redelivery that
    moves a value across columns would be dropped by the guard
    (round-9 review finding, probed live). The guard TRUSTS the
    persisted digest column where present (a column-pruned 32-byte
    scan) and recomputes from the stored source columns only for
    legacy rows whose digest reads as NULL; the destination is read
    under an explicit schema so mixed-schema directories stay
    deterministic regardless of footer sampling (see
    ``_guarded_append``). Every historical row keeps full protection
    without re-scanning the lake's payload per micro-batch.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from .queries.audit import split_quarantine

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Collapse in-batch duplicate ids FIRST (same row delivered in
        # two files of one trigger, or redelivered within a batch):
        # the destination anti-join can't see rows that aren't written
        # yet, so without this both copies would append.
        batch_df, src_cols = _collapse_batch(batch_df, id_col)
        batch_df = batch_df.persist()
        try:
            clean, bad = split_quarantine(batch_df, checks)
            for side_df, out_dir in ((clean, lake_dir), (bad, quarantine_dir)):
                _guarded_append(spark, side_df, out_dir, src_cols)
        finally:
            batch_df.unpersist()

    return _file_stream(
        spark, src_dir, checkpoint_dir, sink, max_files_per_trigger
    )


def run_scored_ingest(
    spark: SparkSession,
    src_dir: str,
    lake_dir: str,
    rejects_dir: str,
    checkpoint_dir: str,
    weights: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int = 1,
):
    """Streaming ingestion gated by the hashed linear quality
    classifier (queries/classifier.py) — the model-scored sibling of
    ``run_audited_ingest``, which the declarative audit checks cannot
    express because scoring needs the broadcast (bucket, weight)
    model join, not a map-only column predicate.

    Per micro-batch: collapse in-batch duplicate ids (deterministic
    survivor), score every row, split at ``threshold`` — keepers
    append to ``lake_dir``, rejects append to ``rejects_dir`` WITH
    their score and logit (so threshold tuning can replay the reject
    lake instead of the raw stream). Batch-parity with
    ``quality_partition`` and crash-replay idempotence via the same
    recomputed content-digest guard as the audited ingest.

    Scale shape: the model table broadcasts once per batch (model-
    sized); the batch scans once (persisted across the score join and
    both writes); destination guards are column-pruned digest scans.
    """
    from .queries.classifier import classifier_score_frame

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch, src_cols = _collapse_batch(batch_df, id_col)
        # Persist the SCORED frame, not just the raw batch: both
        # destination writes derive from it, and the scoring plan
        # (token explode + broadcast model join + id-keyed shuffle) is
        # the dominant per-batch cost — unpersisted it would run twice
        # (round-9 third-pass review finding). The score join is
        # null-SAFE on the id: after the collapse there is at most one
        # null-id row, the scorer pools it into one score row, and a
        # plain equi-join would silently drop it from BOTH outputs.
        scores = classifier_score_frame(
            batch, weights, text_col=text_col, id_col=id_col
        ).select(
            F.col(id_col).alias("_score_id"), "logit", "score"
        )
        scored = batch.join(
            scores, F.col(id_col).eqNullSafe(F.col("_score_id"))
        ).drop("_score_id").persist()
        try:
            keep = scored.filter(
                F.col("score") >= F.lit(threshold)
            ).drop("logit", "score")
            reject = scored.filter(F.col("score") < F.lit(threshold))
            for side_df, out_dir in ((keep, lake_dir), (reject, rejects_dir)):
                _guarded_append(spark, side_df, out_dir, src_cols)
        finally:
            scored.unpersist()

    return _file_stream(
        spark, src_dir, checkpoint_dir, sink, max_files_per_trigger
    )


def run_cdc_ingest(
    spark: SparkSession,
    changes_dir: str,
    lake_root: str,
    spec,
    checkpoint_dir: str,
    op_col: str = "_op",
    company: str = "Locaweb",
    max_files_per_trigger: int = 1,
):
    """Continuous CDC ingestion: a stream of Debezium-style change
    files applied to the lake per micro-batch through
    ``pipeline.apply_cdc_batch`` (I/U → partition-scoped upsert, D →
    partition-scoped erasure, within-batch last-change-wins).

    Delivery semantics: the checkpoint serializes batches, so each
    batch applies exactly once in arrival order; a crash between apply
    and checkpoint commit replays ONLY the last batch, and re-applying
    the same batch is a no-op state-wise (the upsert rewrites the same
    winners, the erasure finds the ids already gone) — the same
    replay contract as the reference's watermark commit-at-end
    protocol (gluejob.py:136-139), per micro-batch.

    Scale shape is apply_cdc_batch's: both arms stay partition-scoped;
    the stream side only ever holds one change batch.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from .pipeline import apply_cdc_batch

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            spark, batch_df, spec, lake_root, op_col=op_col,
            company=company,
        )

    return _file_stream(
        spark, changes_dir, checkpoint_dir, sink, max_files_per_trigger
    )
