"""The ingestion pipeline itself: flow dispatch (C1), the per-table
loop, and the partition-scoped upsert lake writer (K1+O6+O7).

This is the reference job's actual purpose (``/root/reference/
gluejob.py``): materialize OLTP tables into a hive-partitioned parquet
lake, either from CSV drops (initial load, gluejob.py:163-171) or
incrementally from the source databases since the last watermark
(gluejob.py:157-161), with MERGE/upsert semantics per partition
(gluejob.py:190-205) and the t0/advance/commit watermark protocol
(gluejob.py:616,136-139,623).

Spark-first re-expression:
- The reference's sequential per-partition driver loop
  (gluejob.py:183-188) becomes ``write.partitionBy`` — one distributed
  shuffle-on-write produces every ``company=…/{t}_year=…/{t}_month=…``
  directory (identical ``k=v`` layout to gluejob.py:187).
- The read-merge-overwrite of one parquet object per partition
  (gluejob.py:190-205) becomes: prune the existing lake to the
  partitions present in the batch (partition-filter pushdown — Spark
  never opens untouched directories), keep the batch's rows (one per
  id, deterministic where the reference's ``keep='first'`` is
  order-dependent) and the lake rows whose id the batch lacks (an
  anti join), written to staging; the lake-commit journal
  (``journal.py``) then replaces exactly the partition directories
  the write produced, crash-safely, as the reference's one
  ``put_object`` per partition is atomic.
- The one-file-per-partition constraint is dropped (it caps write
  parallelism and forces 100 TB partitions through one task); the
  directory contract is preserved, which is what downstream readers
  depend on.

Scale notes (100 TB): on a daily increment the lake side of the merge
never shuffles; the one shuffle left is the batch's dedup window on
the id column, skipped when its ids are unique. The touched-partition
set is the one driver-side result — a list of (year, month) pairs,
bounded by the calendar, not the data. The lake writer gets it, with
the batch's row count (the empty-batch skip) and NULL-id count (the PK
guard), from ONE evaluation of the batch (``_evaluated_batch``): a
``noop`` write carrying an Observation. The partitions the merge wrote
come from an Observation on the write itself, and the journal
publishes each one with about three filesystem calls — no listing, no
Spark job.

- daily increments (``broadcast_batch=True``): that write also fills
  a persisted copy of the batch, and the merge reads the cache, so the
  source runs ONCE per table. The Observation also counts the batch's
  distinct ids (a set no bigger than the broadcast key side); when
  they equal its rows the upsert window is the identity and is
  skipped, so a duplicate-free increment merges with no shuffle;
- initial loads and backfills (``broadcast_batch=False``): nothing is
  pinned, and the merge evaluates the source again — TWICE per table.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import journal
from .operators.normalize import normalize_booleans
from .operators.relational import semi_join, watermark_filter
from .operators.temporal import derive_partitions, format_ts_micro, parse_ts
from .operators.upsert import merge_upsert
from .registry import CATALOG, TableSpec, tables_list
from .sources.files import _hadoop_path, read_csv_table, read_parquet_table
from .watermarks import WATERMARK_FORMAT, WatermarkStore

log = logging.getLogger(__name__)


def lake_table_root(lake_root: str, table: str) -> str:
    """``{lake_root}/raw/locaweb/{table}`` — the prefix above the
    partition directories (gluejob.py:187)."""
    return f"{lake_root}/raw/locaweb/{table}"


def _partition_predicate(ycol: str, mcol: str, touched: list[tuple]):
    """OR-of-(year AND month) filter over the touched partition set,
    null-safe: a NULL partition value (NULL event time →
    __HIVE_DEFAULT_PARTITION__) needs an isNull term — ``col == None``
    is SQL NULL, never true, which would exclude existing
    null-partition rows from a merge while the journal still
    replaces that directory, silently deleting them. Shared by the
    upsert merge and the erasure path so partition addressing can't
    drift between them."""

    def _term(col: str, v):
        return F.col(col).isNull() if v is None else (F.col(col) == v)

    return reduce(
        lambda a, b: a | b,
        [_term(ycol, y) & _term(mcol, m) for y, m in touched],
    )


@contextmanager
def _evaluated_batch(
    batch: DataFrame,
    spec: TableSpec,
    broadcast_batch: bool,
    delete_touched: list[tuple] | None = None,
):
    """Evaluate the prepared batch once, with one ``noop`` write
    carrying an Observation, for everything the lake writer must
    know before the merge: its row count (the empty-batch skip), its
    NULL-id count (the PK guard), the (year, month) partitions it
    touches and, with ``broadcast_batch``, whether its ids are unique
    (the merge then skips its within-batch dedup window). Yields
    ``(prepared, touched, n_rows, unique_ids)``, where ``touched``
    also covers the CDC delete arm's victim partitions; ``unique_ids``
    is always False without ``broadcast_batch``, whose batch is too big
    for an id set on the driver. With ``broadcast_batch`` the batch is
    persisted, and the cache is released on every exit — guard raise,
    empty return, failed write — because the streaming sink calls the
    writer once per micro-batch.

    The PK guard matters because the writer runs the merge's anti
    join with plain-equality keys (merge_upsert's contract), which is
    only sound because no row with a NULL id ever enters the lake —
    enforced HERE, on every write including the initial load, so the
    invariant holds for the lake's whole life.
    """
    ycol, mcol = f"{spec.name}_year", f"{spec.name}_month"
    prepared = _prepare_batch(batch, spec)
    if broadcast_batch:
        prepared = prepared.persist()
    try:
        obs = Observation(f"batch_{spec.name}")
        metrics = [
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col(spec.id_col).isNull()).alias("null_ids"),
            F.collect_set(F.struct(ycol, mcol)).alias("parts"),
        ]
        if broadcast_batch:
            # An Observation rejects count(DISTINCT …); the id set is
            # no bigger than the key side this arm broadcasts anyway.
            metrics.append(
                F.size(F.collect_set(spec.id_col)).alias("distinct_ids")
            )
        (
            # Only the three observed columns: unpinned, the source
            # prunes the rest; persisted, the scan still fills the
            # whole cache.
            prepared.select(spec.id_col, ycol, mcol)
            .observe(obs, *metrics)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        stats = obs.get
        n_rows, null_ids = stats["n"], stats["null_ids"]
        unique_ids = broadcast_batch and stats["distinct_ids"] == n_rows
        if null_ids:
            raise ValueError(
                f"write_partitioned_upsert: {null_ids} row(s) with NULL "
                f"{spec.id_col} in the {spec.name} batch — the lake merge "
                "treats the id as a primary key (plain-equality anti "
                "join); a NULL id can never be upserted over and would "
                "strand forever. Fix the extraction or pre-filter."
            )
        touched = [(p[0], p[1]) for p in stats["parts"]]
        for part in delete_touched or []:
            if part not in touched:
                touched.append(part)
        yield prepared, touched, int(n_rows), unique_ids
    finally:
        if broadcast_batch:
            prepared.unpersist()


def _prepare_batch(batch: DataFrame, spec: TableSpec) -> DataFrame:
    """Batch normalization the lake writer runs before the merge:
    boolean dict-map (O1, gluejob.py:181), partition derivation from
    the created-at column (O5, gluejob.py:182-185), and the
    microsecond strftime round-trip of the timestamp column (O4,
    gluejob.py:174)."""
    return (
        normalize_booleans(batch, spec.boolean_cols)
        .transform(lambda d: derive_partitions(d, spec.ts_col, spec.name))
        .withColumn(spec.ts_col, format_ts_micro(parse_ts(F.col(spec.ts_col))))
    )


def _scope_existing(
    existing: DataFrame,
    spec: TableSpec,
    ycol: str,
    mcol: str,
    touched: list[tuple],
    company: str,
) -> DataFrame:
    """The lake rows one merge must consider.

    Partition-scoped (gluejob.py:190-205): only lake partitions the
    batch touches (null-safety: see _partition_predicate), and only
    THIS company's — company is a partition column, so on a
    multi-company lake an unscoped read would merge other companies'
    rows into this company's rewrite (re-stamped with the wrong
    company literal) while the journal left their own partitions
    intact — duplication, and under the fused delete arm,
    cross-company erasure. Both predicates push down as partition
    pruning.

    Schema evolution is settled by the read itself: the writer scans
    the lake with the registry's columns typed as in the batch
    (``_lake_schema``), so a column added AFTER these files were
    written reads as a typed NULL and historic rows survive the upsert
    with NULL in it, while columns the lake has but the registry
    dropped are never read, and age out as their partitions rewrite.
    """
    pred = _partition_predicate(ycol, mcol, touched)
    if "company" in existing.columns:
        existing = existing.filter(F.col("company") == company)
    return (
        existing.filter(pred)  # pushed as partition pruning
        .select(*spec.columns)  # drop partition/company cols
        .transform(lambda d: derive_partitions(d, spec.ts_col, spec.name))
    )


def _lake_schema(prepared: DataFrame, spec: TableSpec) -> T.StructType:
    """The registry's columns, typed as in the prepared batch: the
    schema the writer reads its lake with. The partition columns stay
    out so partition discovery supplies them: declared here, a lake
    without ``company=`` directories would read ``company`` as a NULL
    data column, and the company filter would drop every row."""
    types = {f.name: f.dataType for f in prepared.schema.fields}
    parts = {"company", f"{spec.name}_year", f"{spec.name}_month"}
    return T.StructType(
        [T.StructField(c, types[c]) for c in spec.columns if c not in parts]
    )


def _partition_paths(
    spark: SparkSession, table: str, company: str, parts
) -> list[str]:
    """Paths, relative to the table root, of one company's (year,
    month) partition directories — the single spelling of the Hive
    layout, which the journal publishes and removes. The company goes
    through Spark's own Hive path escaping
    (ExternalCatalogUtils.escapePathName), so "Foo:Bar" resolves to the
    company=Foo%3ABar directory the writer actually created — a
    hand-built unescaped path would silently miss it and, on the
    erasure paths, leave supposedly-deleted rows readable (round-9
    review finding). Years and months are integers or NULL, which need
    no escaping."""
    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    c = f"company={esc(company)}"
    return [
        f"{c}/{table}_year={_part_dir_value(y)}"
        f"/{table}_month={_part_dir_value(m)}"
        for y, m in parts
    ]


def write_partitioned_upsert(
    spark: SparkSession,
    batch: DataFrame,
    spec: TableSpec,
    lake_root: str,
    company: str = "Locaweb",
    single_object_compat: bool = False,
    delete_keys: DataFrame | None = None,
    delete_touched: list[tuple] | None = None,
    broadcast_batch: bool = True,
) -> int:
    """K1: merge one table batch into its lake partitions.

    The merge itself is ``merge_upsert``, also on an empty lake. On a
    daily increment the scoped lake read never shuffles — it is the
    map-side stream of an anti join against the batch's broadcast key
    set — where a window over the union would re-shuffle every
    touched partition's rows. ``broadcast_batch`` declares the batch
    driver-holdable (a daily increment); pass False for a
    backfill-sized batch (initial_load does) and the merge takes the
    sort-merge arm. Files roll over at Spark's session-wide
    ``spark.sql.files.maxRecordsPerFile``.

    Uniqueness invariant (merge_upsert's existing-side contract, with
    the NULL-id guard below): one row per id PER PARTITION, which is
    one row per id lake-wide because the partition key derives from
    the created-at column — immutable at the source (gluejob.py:174:
    DT_CreatedAt/created_at, never the updated_at that incremental
    pulls filter on), so an id can never legitimately move partitions.
    A source that DID mutate created_at would strand a stale copy in
    the old partition under BOTH merge forms (the untouched partition
    is never read); the old window form only appeared to heal it in
    the lucky case both partitions were touched — and then picked an
    arbitrary column-order winner, not the newest row. The reference
    merges each partition file independently (gluejob.py:190-205) and
    never heals cross-partition copies either; this writer now matches
    it exactly.


    Batch evaluation: the empty-batch skip, the NULL-id guard and the
    touched (year, month) set come from one pass over the batch
    (``_evaluated_batch``): a ``noop`` write carrying an Observation,
    logged as one INFO line. With ``broadcast_batch`` the batch is
    persisted, that write fills the cache and the merge reads it, so
    the source is evaluated once (the cache is released on every
    exit); the same pass also tells whether the batch's ids are unique,
    and if they are the merge skips its within-batch dedup window
    (``dedup_within=False``) and runs no shuffle. Without
    ``broadcast_batch`` nothing is pinned, the merge evaluates the
    source a second time, and the window always runs.

    Returns the number of rows written (0 = empty batch skipped, the
    F2 guard at gluejob.py:175-179). Mirrors posting_parquets_in_s3 +
    s3_parquet_file_put_and_update (gluejob.py:173-205) as one
    distributed plan.

    Publication: the merged partitions are written to the journal's
    staging, and ``journal.commit`` publishes the partitions the
    write's Observation saw and removes the touched ones it did not
    (the delete arm emptied them). A crash at any step recovers to
    the old or the new lake on the next write (``journal.recover``),
    never to a partition missing its untouched rows.

    ``delete_keys`` (+ ``delete_touched``, the victim partitions the
    caller discovered) fuses a CDC delete arm into the SAME rewrite:
    the scoped lake read anti-joins the keys before the merge, and the
    touched-partition predicate covers both arms. One lake
    read + one write where the unfused upsert-then-forget_rows
    sequence paid two of each on overlapping partitions. Requires a
    NON-EMPTY batch (the merged write's Observation needs rows to
    flow; callers route empty-upsert change batches to forget_rows).

    ``single_object_compat=True`` reproduces the reference's exact
    on-disk contract — ONE parquet object named ``{table}.parquet``
    per partition directory (gluejob.py:187,201-203) — for downstream
    readers that GET that key instead of listing the directory. The
    lone part file is renamed in staging, before the commit point, so
    a partition written as several files raises with the lake
    untouched. It routes each partition through a single task (a
    deliberate parallelism cap), so leave it off at scale and run the
    default multi-file layout + ``compact_partitions`` instead.
    """
    with _evaluated_batch(batch, spec, broadcast_batch, delete_touched) as (
        prepared,
        touched,
        n_rows,
        unique_ids,
    ):
        if n_rows == 0:
            if delete_keys is not None:
                raise ValueError(
                    "write_partitioned_upsert: delete_keys requires a "
                    "non-empty batch — use forget_rows for pure erasure"
                )
            log.info("skip empty batch for %s", spec.name)
            return 0
        log.info(
            "%s batch: %d rows, %d partitions touched, dedup window %s",
            spec.name,
            n_rows,
            len(touched),
            "skipped (ids unique)" if unique_ids else "runs",
        )

        ycol, mcol = f"{spec.name}_year", f"{spec.name}_month"
        root = lake_table_root(lake_root, spec.name)
        journal.recover(spark, root)
        existing = read_parquet_table(spark, root, _lake_schema(prepared, spec))
        # ``touched`` (the batch's partitions plus the delete arm's)
        # drives the lake pruning predicate.
        if existing is not None:
            existing = _scope_existing(
                existing, spec, ycol, mcol, touched, company
            )
        if delete_keys is not None and existing is not None:
            # No distinct: a left anti join ignores duplicate keys.
            key = delete_keys.select(
                F.col(delete_keys.columns[0]).alias(spec.id_col)
            )
            existing = existing.join(
                F.broadcast(key), spec.id_col, "left_anti"
            )

        # O6+O7. With unique ids the within-batch dedup window is the
        # identity, so it is skipped: a daily increment then merges
        # without a shuffle. The scoped lake read meets merge_upsert's
        # existing-side contract (one row per id, no NULL id) because
        # every write to it passed _evaluated_batch's NULL-id guard.
        merged = merge_upsert(
            prepared,
            existing,
            spec.id_col,
            dedup_within=not unique_ids,
            broadcast_incoming=broadcast_batch,
        )
        # Row count and written partitions via an Observation on the
        # write itself: a separate action would execute the full merge
        # plan (the incoming-side window dedup, if it runs +
        # broadcast/sort-merge anti join against the pruned lake scan +
        # union) a second time just for them.
        obs = Observation(f"upsert_{spec.name}")
        out = merged.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_set(F.struct(ycol, mcol)).alias("parts"),
        ).withColumn("company", F.lit(company))
        if single_object_compat:
            # Hash-partition on the partition columns so each (company,
            # year, month) combination lands in exactly one task →
            # exactly one file per partition directory, renamed below.
            out = out.repartition("company", ycol, mcol)
        out.write.mode("overwrite").partitionBy("company", ycol, mcol).parquet(
            journal.staging(root)
        )
        n = int(obs.get["n"])
        written = {(p[0], p[1]) for p in obs.get["parts"]}
        publish = _partition_paths(spark, spec.name, company, written)
        if single_object_compat:
            journal.name_staged_files(
                spark, root, publish, f"{spec.name}.parquet"
            )
        # A touched partition the merge left without rows (the delete
        # arm emptied it) is removed.
        emptied = [p for p in touched if p not in written]
        journal.commit(
            spark,
            root,
            publish,
            _partition_paths(spark, spec.name, company, emptied),
        )
        log.info("upserted %d rows into %s", n, root)
        return n


def _part_dir_value(v) -> str:
    """Directory-name form of a partition value (Hive convention for
    null partitions)."""
    return "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)


def compact_partitions(
    spark: SparkSession,
    table_root: str,
    target_files_per_partition: int = 1,
) -> int:
    """Small-file compaction: rewrite every partition of a lake table
    into ``target_files_per_partition`` files, preserving content and
    the directory contract.

    Incremental upserts accumulate files per partition (each batch's
    tasks write their own); scan cost grows with file count, not data.
    Compaction is a read → repartition-within-partition → staged
    write, then every partition published through the journal. Run it
    out-of-band (the reference has no analogue — its
    one-file-per-partition writes WERE the compaction, at the cost of
    single-task writes).

    Returns the number of rows rewritten.
    """
    journal.recover(spark, table_root)
    # mergeSchema: compaction REWRITES the lake — a one-footer scan of
    # a schema-evolved table would rewrite it without the columns only
    # some generations carry, which is silent data loss (same contract
    # as the upsert writer's existing-lake read).
    df = spark.read.option("mergeSchema", "true").parquet(table_root)
    part_cols = _partition_cols(spark, df, table_root)
    if not part_cols:
        raise ValueError(
            f"compact_partitions: {table_root} has no partition directories"
        )
    obs = Observation("compact_rows")
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if target_files_per_partition > 1:
        # Hashing on the partition columns alone puts ALL of a
        # partition's rows in one task → always one file; a salt
        # derived from the data columns spreads each partition over up
        # to `target` tasks. The partition count is EXPLICIT — with no
        # number, AQE's coalescing is free to merge the small salted
        # partitions straight back into one task, silently undoing the
        # spread (observed on a small table).
        data_cols = [c for c in df.columns if c not in part_cols]
        salt = F.pmod(
            F.xxhash64(*data_cols), F.lit(target_files_per_partition)
        )
        n_parts = max(
            spark.sparkContext.defaultParallelism,
            target_files_per_partition * 4,
        )
        reparted = observed.repartition(n_parts, *part_cols, salt)
    else:
        reparted = observed.repartition(*part_cols)
    stage = journal.staging(table_root)
    reparted.write.mode("overwrite").partitionBy(*part_cols).parquet(stage)
    # Every partition directory, as Spark named it: one glob.
    fs, leaves = _hadoop_path(
        spark, stage + "".join(f"/{c}=*" for c in part_cols)
    )
    depth = len(part_cols)
    publish = [
        "/".join(s.getPath().toString().split("/")[-depth:])
        for s in fs.globStatus(leaves) or []
    ]
    journal.commit(spark, table_root, publish, [])
    return int(obs.get["n"])


def _partition_cols(spark: SparkSession, df, table_root: str) -> list[str]:
    """Columns materialized as ``k=v`` directories under the table
    root, in ``df.columns`` (i.e. hierarchy) order.

    Uses the Hadoop FileSystem glob — NOT Python's ``glob`` — so
    detection works for any path scheme (local, HDFS, s3a). A local
    glob silently returns nothing for object-store URIs, which would
    make compaction ``partitionBy()`` nothing and flatten the lake's
    partition layout.
    """
    fs, _ = _hadoop_path(spark, table_root)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    found = []
    for col in df.columns:
        for depth in ("", "*/", "*/*/"):
            if fs.globStatus(hpath(f"{table_root}/{depth}{col}=*")):
                found.append(col)
                break
    return found


def lake_partition_stats(spark: SparkSession, table_root: str) -> DataFrame:
    """Per-partition row counts for a lake table — the observability
    query behind compaction/skew decisions. Partition pruning makes
    this a metadata-plus-counts scan, not a full-column read."""
    df = spark.read.option("mergeSchema", "true").parquet(table_root)
    part_cols = _partition_cols(spark, df, table_root)
    return df.groupBy(*part_cols).count().withColumnRenamed("count", "n_rows")


class LocalFileSource:
    """Incremental source over a directory of per-table CSV files —
    the JDBC seam's file-backed twin, used in tests and anywhere a
    database isn't reachable.

    Applies the same semantics the reference pushes into source SQL
    (gluejob.py:521-600): direct tables filter on their own ``wm_col``;
    chained tables semi-join child→…→anchor against the
    watermark-filtered anchor. All Spark-side, so Catalyst sees one
    declarative plan (filters pushed into the scans, small filtered
    anchors broadcast).
    """

    def __init__(self, root: str, clock: datetime | None = None):
        self.root = root
        self._clock = clock

    def _read(self, spark: SparkSession, spec: TableSpec) -> DataFrame | None:
        return read_csv_table(spark, f"{self.root}/{spec.name}.csv", spec)

    def read_table(
        self, spark: SparkSession, spec: TableSpec, watermark: str
    ) -> DataFrame | None:
        child = self._read(spark, spec)
        if child is None:
            return None
        if not spec.chain:
            return watermark_filter(child, spec.wm_col, watermark)
        # Qualify the anchor, then semi-join the chain back to the child.
        _, anchor_name, _ = spec.chain[-1]
        anchor_spec = CATALOG[anchor_name]
        qualified = self._read(spark, anchor_spec)
        if qualified is None:
            return None
        qualified = watermark_filter(qualified, anchor_spec.wm_col, watermark)
        # Hop i's parent carries hop i+1's FK; walk anchor→child
        # narrowing each intermediate table to qualified rows.
        for i in range(len(spec.chain) - 2, -1, -1):
            _, parent, _ = spec.chain[i]
            next_fk, _, next_pk = spec.chain[i + 1]
            parent_df = self._read(spark, CATALOG[parent])
            if parent_df is None:
                return None
            qualified = semi_join(parent_df, qualified, next_fk, next_pk)
        first_fk, _, first_pk = spec.chain[0]
        return semi_join(child, qualified, first_fk, first_pk)

    def clock(self, spark: SparkSession) -> str:
        """t0 stand-in for S5 (gluejob.py:282-304): injected fixed
        clock in tests, wall clock otherwise."""
        now = self._clock or datetime.now(timezone.utc)
        return now.strftime(WATERMARK_FORMAT)


@dataclass
class RunResult:
    flow: str
    tables: dict[str, int] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)


def initial_load(
    spark: SparkSession,
    source_root: str,
    lake_root: str,
    tables: list[str],
    company: str = "Locaweb",
) -> RunResult:
    """Entry point 1 (gluejob.py:163-171): per-table CSV → lake.
    Missing CSV → log + continue (gluejob.py:167-169)."""
    result = RunResult("initial_load")
    for t in tables:
        spec = CATALOG[t]
        df = read_csv_table(
            spark, f"{source_root}/{spec.source_db}/{t}.csv", spec
        )
        if df is None:
            log.error("missing source file for %s — skipping", t)
            result.skipped.append(t)
            continue
        # full-table batches are backfill-shaped by definition: take
        # the sort-merge arm — force-broadcasting every key of a
        # 100M-row table would blow the 8 GB broadcast limit on a
        # re-run over an existing lake (r13 review)
        result.tables[t] = write_partitioned_upsert(
            spark, df, spec, lake_root, company, broadcast_batch=False
        )
    return result


def incremental(
    spark: SparkSession,
    source,
    lake_root: str,
    tables: list[str],
    store: WatermarkStore,
    company: str = "Locaweb",
) -> RunResult:
    """Entry point 2 (gluejob.py:157-161): per-table changed rows →
    partition-scoped upsert → in-memory watermark advance to the t0
    captured BEFORE any extraction (gluejob.py:616,136-139)."""
    t0 = source.clock(spark)
    result = RunResult("incremental")
    for t in tables:
        spec = CATALOG[t]
        df = source.read_table(spark, spec, store.get(t))
        if df is None:
            log.error("source read failed for %s — skipping", t)
            result.skipped.append(t)
            continue
        result.tables[t] = write_partitioned_upsert(
            spark, df, spec, lake_root, company, broadcast_batch=True
        )
        store.advance(t, t0)
    return result


def run(
    spark: SparkSession,
    trigger_origin: str,
    job_mode: str,
    lake_root: str,
    store: WatermarkStore,
    source_root: str | None = None,
    source=None,
    company: str = "Locaweb",
) -> RunResult:
    """C1 flow dispatch (gluejob.py:144-155): OnDemand → initial load,
    Scheduled → incremental, anything else → explicit no-op
    (README.md:17). The watermark commit runs in every path, including
    the no-op — matching gluejob.py:623."""
    tables = tables_list(job_mode)  # C2; unknown mode → [] → no-op
    if trigger_origin == "OnDemand":
        result = initial_load(spark, source_root, lake_root, tables, company)
    elif trigger_origin == "Scheduled":
        result = incremental(spark, source, lake_root, tables, store, company)
    else:
        log.info("unmapped JobTriggerOrigin=%r — no-op", trigger_origin)
        result = RunResult("no-op")
    store.commit()
    return result


def forget_rows(
    spark: SparkSession,
    ids: DataFrame,
    spec: TableSpec,
    lake_root: str,
    company: str = "Locaweb",
) -> int:
    """Targeted physical deletion (right-to-be-forgotten / CCPA
    erasure): remove every lake row whose ``spec.id_col`` appears in
    ``ids``, rewriting ONLY the partitions that contain such rows.
    Returns the number of rows deleted. No reference counterpart —
    the reference lake has no deletion path at all; this is the
    erasure half of the K1 writer's contract.

    Scale shape (mirrors the partition-scoped upsert):
    - ``ids`` is joined as a FRAME (broadcast when erasure-request-
      sized, the normal case) — never collected into an ``isin``.
    - The touched (year, month) set comes from one semi-join projected
      to the partition columns; the collect is calendar-bounded.
    - Only touched partitions are scanned (partition-pruning
      predicate) and rewritten; the rest of the lake — the
      overwhelming majority — is never read or written.
    - The survivors are staged, and the journal publishes the touched
      partitions that keep rows and removes those whose every row was
      erased.
    """
    ycol, mcol = f"{spec.name}_year", f"{spec.name}_month"
    root = lake_table_root(lake_root, spec.name)
    journal.recover(spark, root)
    lake = read_parquet_table(spark, root)
    if lake is None:
        return 0
    # Scope to the requested company FIRST (partition-pruned): a
    # multi-company lake would otherwise contribute other companies'
    # (year, month) hits to `touched`, and the erasure below — which
    # only rewrites THIS company's directories — would report and
    # target partitions it never touches.
    lake = lake.filter(F.col("company") == company)
    key = ids.select(F.col(ids.columns[0]).alias(spec.id_col)).distinct()
    victims = lake.join(F.broadcast(key), spec.id_col, "left_semi")
    touched = [
        (r[0], r[1])
        for r in victims.select(ycol, mcol).distinct().collect()
    ]
    if not touched:
        return 0

    pred = _partition_predicate(ycol, mcol, touched)
    scoped = lake.filter(pred)
    # One left join of the scoped lake to the flagged (distinct) keys
    # serves both the survivors and, from ONE grouped pass, the rows
    # erased and the touched partitions that still hold rows after the
    # erasure.
    flagged = scoped.join(
        F.broadcast(key.withColumn("_hit", F.lit(True))), spec.id_col, "left"
    )
    per_part = (
        flagged.groupBy(ycol, mcol)
        .agg(
            F.count_if(F.col("_hit")).alias("erased"),
            F.count_if(F.col("_hit").isNull()).alias("kept"),
        )
        .collect()
    )
    n = sum(r["erased"] for r in per_part)
    kept = [(r[0], r[1]) for r in per_part if r["kept"]]

    (
        flagged.filter(F.col("_hit").isNull())
        .drop("_hit")
        .write.mode("overwrite")
        .partitionBy("company", ycol, mcol)
        .parquet(journal.staging(root))
    )
    journal.commit(
        spark,
        root,
        _partition_paths(spark, spec.name, company, kept),
        _partition_paths(
            spark, spec.name, company, [p for p in touched if p not in kept]
        ),
    )
    log.info("forgot %d rows from %s across %d partitions",
             n, root, len(touched))
    return n


def apply_cdc_batch(
    spark: SparkSession,
    changes: DataFrame,
    spec: TableSpec,
    lake_root: str,
    op_col: str = "_op",
    company: str = "Locaweb",
) -> tuple[int, int]:
    """Apply one CDC change batch (Debezium-style) to the lake:
    ``changes`` carries the table columns plus ``op_col`` in
    {'I','U','D'} (case-insensitive). Inserts/updates merge through
    the K1 partition-scoped upsert; deletes erase through
    ``forget_rows``. Returns (rows_upserted, rows_deleted).

    Ordering semantics: WITHIN one batch a key that is both upserted
    and deleted resolves to its LAST change by ``spec.wm_col`` order
    (ties: delete wins — the conservative reading for erasure
    requests). A delete with a NULL watermark — the normal shape for
    Debezium-style tombstones, which carry no payload — is treated as
    newest-in-batch and wins over any upsert for its key: the
    alternative (nulls-last) silently discards the erasure, the worst
    failure mode for a right-to-be-forgotten path. Null-wm UPSERTS
    keep losing to any dated change (no evidence of recency). That
    pre-resolution happens on the batch alone (one batch-sized
    window), so the lake never sees a transient state.

    Scale shape: both arms stay partition-scoped — the upsert touches
    only partitions the surviving upserts land in, the erasure only
    partitions holding the deleted keys; the batch scans once into
    two frames off one persisted input.
    """
    op = F.upper(F.col(op_col))
    changes = changes.persist()
    latest = None
    try:
        # Fail LOUD on unknown/null ops: upper(NULL) is NULL, so a
        # malformed row would otherwise satisfy neither the upsert nor
        # the delete filter and vanish without a trace; and a Debezium
        # 't' (truncate) silently upserted would corrupt the lake.
        # r16: the bad-op probe and the any-deletes probe ride ONE
        # aggregation over the persisted batch (this action also
        # materializes the persist) — previously the op check, the
        # deletes.limit(1) probe, and the persist materialization were
        # three separate action barriers per micro-batch.
        stats = changes.agg(
            F.collect_set(
                F.when(
                    ~op.isin("I", "U", "D") | op.isNull(),
                    F.coalesce(op, F.lit("<null>")),
                )
            ).alias("bad"),
            F.count(F.when(op == "D", 1)).alias("n_raw_deletes"),
        ).first()
        if stats["bad"]:
            raise ValueError(
                f"apply_cdc_batch: unsupported ops {sorted(stats['bad'])}"
                " (expected I/U/D)"
            )
        # last-change-wins per key (delete beats upsert on a tie);
        # final key: full-row hash, so two equal-watermark upserts
        # with different payloads resolve identically on every run
        # and partitioning (the run_doc_dedup_ingest tie-break
        # convention) instead of leaving an arbitrary winner
        payload_cols = [c for c in changes.columns if c != spec.id_col]
        w = Window.partitionBy(spec.id_col).orderBy(
            # null-wm DELETES first (tombstones without payload must
            # not lose the erasure — see docstring); then latest wm,
            # nulls last (an undated upsert never beats a dated one)
            F.when(
                (op == "D") & F.col(spec.wm_col).isNull(), 0
            ).otherwise(1),
            F.col(spec.wm_col).desc_nulls_last(),
            F.when(op == "D", 0).otherwise(1),
            F.xxhash64(
                *[F.col(c).cast("string") for c in payload_cols]
            ).asc_nulls_last(),
        )
        # Pinned: the upsert count, the victims aggregation, the
        # writer's evaluation pass and the merge's delete keys all read
        # it, and each would otherwise run the window again.
        latest = (
            changes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .persist()
        )
        upserts = latest.filter(op != "D").select(*spec.columns)
        deletes = latest.filter(op == "D").select(spec.id_col)
        ycol, mcol = f"{spec.name}_year", f"{spec.name}_month"
        # count the CHANGE rows applied, not the writer's merged-rows
        # return (which includes surviving lake rows of touched
        # partitions), and count BEFORE the write to route a
        # pure-erasure batch; this action fills the pinned window
        n_up = upserts.count()
        if n_up == 0:
            # pure-erasure batch: the fused write needs batch rows to
            # flow through its Observation — forget_rows IS the fused
            # plan minus the merge
            n_del = forget_rows(
                spark, deletes, spec, lake_root, company=company
            )
            return 0, n_del
        # Fused apply: discover the delete victims' partitions and row
        # count in ONE aggregation over the company-scoped lake, then
        # run a SINGLE partition-scoped rewrite that merges the
        # upserts AND anti-joins the deleted keys — one lake read and
        # one write where upsert-then-forget_rows paid two of each on
        # overlapping partitions (r9 steady-state CDC cost, PLANS.md).
        n_del = 0
        delete_touched: list[tuple] = []
        root = lake_table_root(lake_root, spec.name)
        journal.recover(spark, root)
        lake = read_parquet_table(spark, root)
        # n_raw_deletes > 0 is a superset probe for "any deletes
        # survive the window" (a surviving delete implies a raw D
        # row); the rare all-D-rows-lost batch just runs an empty
        # victims aggregation, same result as the old limit(1) probe.
        if lake is not None and stats["n_raw_deletes"] > 0:
            # ``deletes`` holds one row per id (the last-change
            # window), so it broadcasts as is.
            victims = (
                lake.filter(F.col("company") == company)
                .join(F.broadcast(deletes), spec.id_col, "left_semi")
                .groupBy(ycol, mcol)
                .agg(F.count("*").alias("n"))
                .collect()
            )
            n_del = sum(r["n"] for r in victims)
            delete_touched = [(r[0], r[1]) for r in victims]
        write_partitioned_upsert(
            spark,
            upserts,
            spec,
            lake_root,
            company=company,
            delete_keys=deletes if delete_touched else None,
            delete_touched=delete_touched,
        )
        return n_up, n_del
    finally:
        changes.unpersist()
        if latest is not None:
            latest.unpersist()
