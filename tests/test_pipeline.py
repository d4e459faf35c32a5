"""Pipeline e2e on a tmp-dir lake (SURVEY.md §5.4): initial load,
incremental upsert, re-run idempotence, partition layout, flow
dispatch no-op contract."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from data_ingestor_gluejob_script_spark import pipeline
from data_ingestor_gluejob_script_spark.pipeline import LocalFileSource
from data_ingestor_gluejob_script_spark.registry import CATALOG, tables_list
from data_ingestor_gluejob_script_spark.watermarks import WatermarkStore

TABLES = ["retail_subscriptions", "retail_plans"]


def _row(spec, **overrides):
    base = {c: f"x_{c}" for c in spec.columns}
    base.update(overrides)
    return base


def _write_csv(dirpath, spec, rows):
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, f"{spec.name}.csv")
    with open(path, "w") as f:
        f.write(";".join(spec.columns) + "\n")
        for r in rows:
            f.write(";".join(r[c] for c in spec.columns) + "\n")


SUBS = CATALOG["retail_subscriptions"]
PLANS = CATALOG["retail_plans"]


def _sub(id, created, updated, status="active"):
    return _row(
        SUBS, id=id, created_at=created, updated_at=updated, status=status
    )


def _plan(id, sub_id, created, status="ok"):
    return _row(
        PLANS,
        id=id,
        retail_subscription_id=sub_id,
        created_at=created,
        updated_at=created,
        status=status,
    )


@pytest.fixture()
def lake(tmp_path):
    return str(tmp_path / "lake")


@pytest.fixture()
def initial_loaded(spark, tmp_path, lake):
    """Initial load: 2 subscriptions + 2 plans via the OnDemand flow."""
    src = str(tmp_path / "load")
    _write_csv(
        f"{src}/corleone",
        SUBS,
        [
            _sub("s1", "2024-01-10 10:00:00", "2024-01-10 10:00:00"),
            _sub("s2", "2024-02-05 09:30:00", "2024-02-05 09:30:00"),
        ],
    )
    _write_csv(
        f"{src}/corleone",
        PLANS,
        [
            _plan("p1", "s1", "2024-01-11 08:00:00"),
            _plan("p2", "s2", "2024-02-06 08:00:00"),
        ],
    )
    store = WatermarkStore(
        str(tmp_path / "wm.json"), TABLES, now=datetime(2024, 2, 10)
    )
    result = pipeline.run(
        spark,
        trigger_origin="OnDemand",
        job_mode="allTables",
        lake_root=lake,
        store=store,
        source_root=src,
    )
    return src, store, result


def _read_lake(spark, lake, table):
    return spark.read.parquet(f"{lake}/raw/locaweb/{table}")


def test_initial_load_counts_and_layout(spark, initial_loaded, lake):
    _, _, result = initial_loaded
    assert result.flow == "initial_load"
    assert result.tables["retail_subscriptions"] == 2
    assert result.tables["retail_plans"] == 2
    # Partition layout contract (gluejob.py:187): company=…/{t}_year=…/{t}_month=…
    assert os.path.isdir(
        f"{lake}/raw/locaweb/retail_subscriptions/company=Locaweb/"
        "retail_subscriptions_year=2024/retail_subscriptions_month=1"
    )
    assert os.path.isdir(
        f"{lake}/raw/locaweb/retail_subscriptions/company=Locaweb/"
        "retail_subscriptions_year=2024/retail_subscriptions_month=2"
    )
    df = _read_lake(spark, lake, "retail_subscriptions")
    assert df.count() == 2
    # O4: lake timestamps are microsecond-precision strings.
    ts = {r.created_at for r in df.select("created_at").collect()}
    assert ts == {"2024-01-10 10:00:00.000000", "2024-02-05 09:30:00.000000"}


def test_initial_load_missing_file_skips(spark, tmp_path, lake):
    src = str(tmp_path / "empty-load")
    os.makedirs(f"{src}/corleone", exist_ok=True)
    store = WatermarkStore(
        str(tmp_path / "wm2.json"), TABLES, now=datetime(2024, 2, 10)
    )
    result = pipeline.initial_load(spark, src, lake, TABLES)
    assert set(result.skipped) == set(TABLES)
    assert result.tables == {}


def test_incremental_upsert_and_watermark(spark, tmp_path, initial_loaded, lake):
    _, store, _ = initial_loaded
    # Seed watermarks to a known point covering the changes below.
    for t in TABLES:
        store.advance(t, "2024-02-01 00:00:00")
    store.commit()

    inc = str(tmp_path / "inc")
    # s1 changed (status flip, updated_at bumped), s3 brand new;
    # s2 untouched but still >= watermark (boundary re-extraction).
    _write_csv(
        inc,
        SUBS,
        [
            _sub("s1", "2024-01-10 10:00:00", "2024-03-01 12:00:00", status="cancelled"),
            _sub("s2", "2024-02-05 09:30:00", "2024-02-05 09:30:00"),
            _sub("s3", "2024-03-02 11:00:00", "2024-03-02 11:00:00"),
        ],
    )
    _write_csv(
        inc,
        PLANS,
        [
            _plan("p1", "s1", "2024-01-11 08:00:00", status="changed"),
            _plan("p2", "s2", "2024-02-06 08:00:00"),
            _plan("p3", "s3", "2024-03-02 11:30:00"),
        ],
    )
    source = LocalFileSource(inc, clock=datetime(2024, 3, 5, 4, 0, 0))
    result = pipeline.run(
        spark,
        trigger_origin="Scheduled",
        job_mode="allTables",
        lake_root=lake,
        store=store,
        source=source,
    )
    assert result.flow == "incremental"

    subs = _read_lake(spark, lake, "retail_subscriptions")
    got = {r.id: r.status for r in subs.select("id", "status").collect()}
    # Upsert: s1 replaced (incoming wins), s2 deduped, s3 inserted.
    assert got == {"s1": "cancelled", "s2": "active", "s3": "active"}
    assert subs.count() == 3

    plans = _read_lake(spark, lake, "retail_plans")
    pgot = {r.id: r.status for r in plans.select("id", "status").collect()}
    assert pgot == {"p1": "changed", "p2": "ok", "p3": "ok"}

    # Watermarks advanced to t0 (captured before extraction) and committed.
    for t in TABLES:
        assert store.get(t) == "2024-03-05 04:00:00"

    # A second Scheduled day on top: s3 changes, s4 is new.
    inc2 = str(tmp_path / "inc2")
    _write_csv(
        inc2,
        SUBS,
        [
            _sub("s3", "2024-03-02 11:00:00", "2024-03-28 09:00:00", status="upgraded"),
            _sub("s4", "2024-04-01 08:00:00", "2024-04-01 08:00:00"),
        ],
    )
    _write_csv(inc2, PLANS, [_plan("p4", "s4", "2024-04-01 08:30:00")])
    result = pipeline.run(
        spark,
        trigger_origin="Scheduled",
        job_mode="allTables",
        lake_root=lake,
        store=store,
        source=LocalFileSource(inc2, clock=datetime(2024, 4, 2, 4, 0, 0)),
    )
    # touched partitions: 2024-03 (s3) and 2024-04 (s4, p4)
    assert result.tables == {"retail_subscriptions": 2, "retail_plans": 1}
    subs = _read_lake(spark, lake, "retail_subscriptions")
    got = {r.id: r.status for r in subs.select("id", "status").collect()}
    assert got == {
        "s1": "cancelled", "s2": "active", "s3": "upgraded", "s4": "active"
    }
    assert subs.count() == 4
    for t in TABLES:
        assert store.get(t) == "2024-04-02 04:00:00"


def test_incremental_rerun_is_idempotent(spark, tmp_path, initial_loaded, lake):
    """Crash-before-commit semantics: the same window re-extracts and
    the upsert dedups — lake state is unchanged by the second run."""
    _, store, _ = initial_loaded
    for t in TABLES:
        store.advance(t, "2024-02-01 00:00:00")
    store.commit()

    inc = str(tmp_path / "inc")
    _write_csv(
        inc,
        SUBS,
        [_sub("s1", "2024-01-10 10:00:00", "2024-03-01 12:00:00", status="cancelled")],
    )
    _write_csv(inc, PLANS, [_plan("p1", "s1", "2024-01-11 08:00:00")])
    source = LocalFileSource(inc, clock=datetime(2024, 3, 5))

    def snapshot():
        df = _read_lake(spark, lake, "retail_subscriptions")
        return sorted((r.id, r.status, r.created_at) for r in df.collect())

    # First run with a store that never commits (simulated crash): use a
    # throwaway store seeded identically.
    crash_store = WatermarkStore(
        str(tmp_path / "wm-crash.json"), TABLES, now=datetime(2024, 2, 2)
    )
    pipeline.incremental(spark, source, lake, TABLES, crash_store)
    first = snapshot()
    # Re-run the same window (watermark unchanged on disk).
    pipeline.incremental(spark, source, lake, TABLES, crash_store)
    assert snapshot() == first
    assert [r for r in first if r[0] == "s1"][0][1] == "cancelled"


def test_unmapped_trigger_is_noop(spark, tmp_path, lake):
    store = WatermarkStore(
        str(tmp_path / "wm3.json"), TABLES, now=datetime(2024, 2, 10)
    )
    result = pipeline.run(
        spark,
        trigger_origin="SomethingElse",
        job_mode="allTables",
        lake_root=lake,
        store=store,
    )
    assert result.flow == "no-op"
    assert not os.path.exists(f"{lake}/raw")
    # The commit still ran (gluejob.py:623): file exists with defaults.
    assert os.path.exists(str(tmp_path / "wm3.json"))


def test_unknown_job_mode_is_noop():
    assert tables_list("nonsense") == []
    assert tables_list("retail_plans") == ["retail_plans"]
    assert "checkout_orders" not in tables_list("allTables")


def test_max_records_per_file_bounds_file_size(spark, tmp_path, lake):
    import glob

    from data_ingestor_gluejob_script_spark.pipeline import (
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    rows = [
        _sub(f"s{i}", "2024-01-10 10:00:00", "2024-01-10 10:00:00")
        for i in range(100)
    ]
    df = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in rows], list(spec.columns)
    )
    n = write_partitioned_upsert(
        spark, df, spec, lake, max_records_per_file=10
    )
    assert n == 100
    files = glob.glob(
        f"{lake}/raw/locaweb/{spec.name}/company=Locaweb/*/*/*.parquet"
    )
    assert len(files) >= 10  # 100 rows / 10 per file
    total = sum(
        spark.read.parquet(f).count() for f in files
    )
    assert total == 100


def test_compaction_and_stats(spark, tmp_path, lake):
    import glob

    from data_ingestor_gluejob_script_spark.pipeline import (
        compact_partitions,
        lake_partition_stats,
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    rows = [
        _sub(f"s{i}", "2024-01-10 10:00:00", "2024-01-10 10:00:00")
        for i in range(60)
    ] + [
        _sub(f"t{i}", "2024-02-10 10:00:00", "2024-02-10 10:00:00")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in rows], list(spec.columns)
    )
    write_partitioned_upsert(spark, df, spec, lake, max_records_per_file=10)
    root = f"{lake}/raw/locaweb/{spec.name}"
    frag = glob.glob(f"{root}/company=Locaweb/*/*/*.parquet")
    assert len(frag) >= 10  # fragmented on purpose

    before = sorted(r.id for r in spark.read.parquet(root).collect())
    n = compact_partitions(spark, root)
    assert n == 100
    compacted = glob.glob(f"{root}/company=Locaweb/*/*/*.parquet")
    assert len(compacted) == 2  # one file per (year, month) partition
    assert sorted(r.id for r in spark.read.parquet(root).collect()) == before

    stats = {
        (r[f"{spec.name}_year"], r[f"{spec.name}_month"]): r.n_rows
        for r in lake_partition_stats(spark, root).collect()
    }
    assert stats == {(2024, 1): 60, (2024, 2): 40}


def test_single_object_compat_layout(spark, tmp_path, lake):
    """Reference on-disk contract (gluejob.py:187,201-203): exactly one
    object named {table}.parquet per partition directory, stable across
    a re-upsert into the same partitions."""
    import glob

    from data_ingestor_gluejob_script_spark.pipeline import (
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    rows = [
        _sub(f"s{i}", "2024-01-10 10:00:00", "2024-01-10 10:00:00")
        for i in range(30)
    ] + [
        _sub(f"t{i}", "2024-02-10 10:00:00", "2024-02-10 10:00:00")
        for i in range(20)
    ]
    df = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in rows], list(spec.columns)
    )
    n = write_partitioned_upsert(
        spark, df, spec, lake, single_object_compat=True
    )
    assert n == 50
    root = f"{lake}/raw/locaweb/{spec.name}"
    expected = {
        f"{root}/company=Locaweb/{spec.name}_year=2024/"
        f"{spec.name}_month={m}/{spec.name}.parquet"
        for m in (1, 2)
    }
    got = set(glob.glob(f"{root}/company=Locaweb/*/*/*.parquet"))
    assert got == expected  # exact object names, no part-* files

    # Re-upsert into the same partitions (update + insert): the compat
    # naming must survive the dynamic partition overwrite.
    rows2 = [
        _sub("s0", "2024-01-10 10:00:00", "2024-03-01 00:00:00", status="x"),
        _sub("u1", "2024-01-20 10:00:00", "2024-01-20 10:00:00"),
    ]
    df2 = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in rows2], list(spec.columns)
    )
    write_partitioned_upsert(
        spark, df2, spec, lake, single_object_compat=True
    )
    got2 = set(glob.glob(f"{root}/company=Locaweb/*/*/*.parquet"))
    assert got2 == expected
    out = spark.read.parquet(root)
    assert out.count() == 51  # 50 + u1; s0 replaced in place
    assert (
        out.filter(out.id == "s0").select("status").collect()[0][0] == "x"
    )


def _df_60jan_40feb(spark, spec):
    rows = [
        _sub(f"s{i}", "2024-01-10 10:00:00", "2024-01-10 10:00:00")
        for i in range(60)
    ] + [
        _sub(f"t{i}", "2024-02-10 10:00:00", "2024-02-10 10:00:00")
        for i in range(40)
    ]
    return spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in rows], list(spec.columns)
    )


def test_compat_rename_spares_untouched_multifile_partitions(
    spark, tmp_path, lake
):
    """Regression: the compat rename used to glob part-* under EVERY
    partition of the table root, so a compat upsert touching January
    would sweep February's multi-file layout down to one file (silent
    data loss). The rename is now scoped to the batch's touched
    partitions."""
    import glob

    from data_ingestor_gluejob_script_spark.pipeline import (
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    write_partitioned_upsert(
        spark, _df_60jan_40feb(spark, spec), spec, lake,
        max_records_per_file=10,
    )
    root = f"{lake}/raw/locaweb/{spec.name}"
    feb_dir = (
        f"{root}/company=Locaweb/{spec.name}_year=2024/{spec.name}_month=2"
    )
    feb_before = sorted(glob.glob(f"{feb_dir}/part-*.parquet"))
    assert len(feb_before) >= 4  # 40 rows / 10 per file — multi-file

    # Compat upsert touching ONLY January.
    rows2 = [
        _sub("s0", "2024-01-10 10:00:00", "2024-03-01 00:00:00", status="x")
    ]
    df2 = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in rows2], list(spec.columns)
    )
    write_partitioned_upsert(
        spark, df2, spec, lake, single_object_compat=True
    )

    # February's files are byte-for-byte untouched; January is compat.
    assert sorted(glob.glob(f"{feb_dir}/part-*.parquet")) == feb_before
    jan_dir = (
        f"{root}/company=Locaweb/{spec.name}_year=2024/{spec.name}_month=1"
    )
    assert glob.glob(f"{jan_dir}/*.parquet") == [
        f"{jan_dir}/{spec.name}.parquet"
    ]
    out = spark.read.parquet(root)
    assert out.filter(out[f"{spec.name}_month"] == 2).count() == 40
    assert out.filter(out[f"{spec.name}_month"] == 1).count() == 60
    assert out.filter(out.id == "s0").select("status").collect()[0][0] == "x"


def test_compat_rename_refuses_multifile_touched_partition(
    spark, tmp_path, lake
):
    """A touched partition written as more than one part file means
    the single-task invariant broke: the compat write must raise
    before its commit point, leaving the lake untouched."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    write_partitioned_upsert(
        spark, _df_60jan_40feb(spark, spec), spec, lake,
        single_object_compat=True,
    )
    root = f"{lake}/raw/locaweb/{spec.name}"

    def files():
        return sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(root)
            if "_journal" not in d
            for f in fs
        )

    before = files()
    # A session-wide file roll splits each partition's one task output.
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try:
        with pytest.raises(IOError, match="refusing"):
            write_partitioned_upsert(
                spark, _df_60jan_40feb(spark, spec), spec, lake,
                single_object_compat=True,
            )
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert files() == before
    assert spark.read.parquet(root).count() == 100


def test_compaction_via_hadoop_scheme_path(spark, tmp_path, lake):
    """Partition-column detection must go through the Hadoop FS, not
    Python glob: for a scheme'd URI (file:, s3a:, hdfs:) a local glob
    sees nothing, compaction would partitionBy() nothing, and the lake
    layout would silently flatten."""
    import glob

    from data_ingestor_gluejob_script_spark.pipeline import (
        compact_partitions,
        lake_partition_stats,
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    write_partitioned_upsert(
        spark, _df_60jan_40feb(spark, spec), spec, lake,
        max_records_per_file=10,
    )
    root_local = f"{lake}/raw/locaweb/{spec.name}"
    root_uri = f"file:{root_local}"  # Python glob returns [] for this

    n = compact_partitions(spark, root_uri)
    assert n == 100
    for m in (1, 2):
        assert os.path.isdir(
            f"{root_local}/company=Locaweb/{spec.name}_year=2024/"
            f"{spec.name}_month={m}"
        )
    assert len(glob.glob(f"{root_local}/company=Locaweb/*/*/*.parquet")) == 2
    stats = {
        (r[f"{spec.name}_year"], r[f"{spec.name}_month"]): r.n_rows
        for r in lake_partition_stats(spark, root_uri).collect()
    }
    assert stats == {(2024, 1): 60, (2024, 2): 40}


def test_null_event_time_partition_survives_reupsert(spark, lake):
    """Rows with a NULL event time land in __HIVE_DEFAULT_PARTITION__;
    a later batch touching that partition must MERGE with them, not
    replace them — `col == None` is SQL NULL, so a non-null-safe
    pruning predicate excludes the existing rows from the merge while
    dynamic overwrite still rewrites the directory (silent delete)."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        write_partitioned_upsert,
    )

    def batch(id_):
        r = _row(SUBS, id=id_, updated_at="2024-01-01 00:00:00")
        r["created_at"] = None
        return spark.createDataFrame(
            [tuple(r[c] for c in SUBS.columns)], SUBS.spark_schema
        )

    assert write_partitioned_upsert(spark, batch("n1"), SUBS, lake) == 1
    assert write_partitioned_upsert(spark, batch("n2"), SUBS, lake) == 2
    got = _read_lake(spark, lake, SUBS.name)
    null_part = got.filter("retail_subscriptions_year IS NULL")
    assert {r.id for r in null_part.collect()} == {"n1", "n2"}


def test_compaction_target_files_spreads_partitions(spark, tmp_path, lake):
    """target_files_per_partition > 1 must actually produce multiple
    files per partition directory (hashing on the partition key alone
    funnels each partition through one task → always one file)."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        compact_partitions,
        lake_table_root,
        write_partitioned_upsert,
    )

    rows = [
        _sub(f"s{i}", "2024-01-10 10:00:00", "2024-01-10 10:00:00")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        [tuple(r[c] for c in SUBS.columns) for r in rows], SUBS.spark_schema
    )
    write_partitioned_upsert(spark, df, SUBS, lake)
    n = compact_partitions(
        spark, lake_table_root(lake, SUBS.name), target_files_per_partition=4
    )
    assert n == 40
    part_dir = (
        f"{lake_table_root(lake, SUBS.name)}/company=Locaweb/"
        f"retail_subscriptions_year=2024/retail_subscriptions_month=1"
    )
    files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    assert len(files) > 1
    got = spark.read.parquet(lake_table_root(lake, SUBS.name))
    assert got.count() == 40


def test_upsert_schema_evolution_backfills_new_column(spark, tmp_path, lake):
    """A registry column added after the lake was first written: the
    next upsert must read the old files (through the registry's
    columns), backfill the new column as typed NULL for historic rows,
    and carry real values for the new batch — never fail the select or
    silently drop the column."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        write_partitioned_upsert,
    )
    from data_ingestor_gluejob_script_spark.registry import TableSpec

    v1 = TableSpec(
        "retail_subscriptions", ("id", "status", "created_at", "updated_at")
    )
    v2 = TableSpec(
        "retail_subscriptions",
        ("id", "status", "created_at", "updated_at", "tier"),
    )

    def df_for(spec, rows):
        return spark.createDataFrame(
            [[r[c] for c in spec.columns] for r in rows], list(spec.columns)
        )

    base = {
        "status": "active",
        "created_at": "2024-01-10 10:00:00",
        "updated_at": "2024-01-10 10:00:00",
    }
    assert write_partitioned_upsert(
        spark, df_for(v1, [dict(base, id="s1")]), v1, lake
    ) == 1
    # widened batch lands in the SAME (year, month) partition, so the
    # merge must read + rewrite the v1 rows through the new schema
    assert write_partitioned_upsert(
        spark, df_for(v2, [dict(base, id="s2", tier="gold")]), v2, lake
    ) == 2

    root = f"{lake}/raw/locaweb/retail_subscriptions"
    got = {
        r.id: r
        for r in spark.read.option("mergeSchema", "true")
        .parquet(root)
        .collect()
    }
    assert set(got) == {"s1", "s2"}
    assert got["s1"].tier is None  # historic row: typed NULL backfill
    assert got["s2"].tier == "gold"
    assert got["s1"].status == "active"  # untouched columns intact


def test_compaction_preserves_evolved_schema(spark, tmp_path, lake):
    """Compacting a schema-evolved lake must carry EVERY generation's
    columns through the rewrite — a one-footer scan would rewrite the
    table without the newer column, which is silent data loss."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        compact_partitions,
        write_partitioned_upsert,
    )
    from data_ingestor_gluejob_script_spark.registry import TableSpec

    v1 = TableSpec(
        "retail_subscriptions", ("id", "status", "created_at", "updated_at")
    )
    v2 = TableSpec(
        "retail_subscriptions",
        ("id", "status", "created_at", "updated_at", "tier"),
    )

    def df_for(spec, rows):
        return spark.createDataFrame(
            [[r[c] for c in spec.columns] for r in rows], list(spec.columns)
        )

    base = {
        "status": "active",
        "created_at": "2024-01-10 10:00:00",
        "updated_at": "2024-01-10 10:00:00",
    }
    write_partitioned_upsert(spark, df_for(v1, [dict(base, id="s1")]), v1, lake)
    # second generation in a DIFFERENT month: the upsert never rewrites
    # the v1 partition, so the lake genuinely holds two schema
    # generations side by side when compaction runs.
    later = {
        "status": "active",
        "created_at": "2024-02-10 10:00:00",
        "updated_at": "2024-02-10 10:00:00",
    }
    write_partitioned_upsert(
        spark, df_for(v2, [dict(later, id="s2", tier="gold")]), v2, lake
    )

    root = f"{lake}/raw/locaweb/retail_subscriptions"
    assert compact_partitions(spark, root) == 2
    got = {
        r.id: r
        for r in spark.read.option("mergeSchema", "true")
        .parquet(root)
        .collect()
    }
    assert set(got) == {"s1", "s2"}
    assert got["s1"].tier is None and got["s2"].tier == "gold"


def test_upsert_prunes_column_the_registry_dropped(spark, tmp_path, lake):
    """Lake files that carry a column the registry has since dropped
    still upsert: the writer's schema-supplied read never reads that
    column, the merge keeps the historic row, and the rewritten
    partition no longer carries it."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        write_partitioned_upsert,
    )
    from data_ingestor_gluejob_script_spark.registry import TableSpec

    cols = ("id", "status", "created_at", "updated_at")
    v1 = TableSpec("retail_subscriptions", cols + ("tier",))
    v2 = TableSpec("retail_subscriptions", cols)
    base = {
        "status": "active",
        "created_at": "2024-01-10 10:00:00",
        "updated_at": "2024-01-10 10:00:00",
    }

    def df_for(spec, rows):
        return spark.createDataFrame(
            [[r[c] for c in spec.columns] for r in rows], list(spec.columns)
        )

    write_partitioned_upsert(
        spark, df_for(v1, [dict(base, id="s1", tier="gold")]), v1, lake
    )
    assert write_partitioned_upsert(
        spark, df_for(v2, [dict(base, id="s2")]), v2, lake
    ) == 2

    root = f"{lake}/raw/locaweb/retail_subscriptions"
    got = spark.read.option("mergeSchema", "true").parquet(root)
    assert "tier" not in got.columns
    assert {(r.id, r.status) for r in got.collect()} == {
        ("s1", "active"), ("s2", "active")
    }


def test_upsert_keeps_rows_of_lake_without_company_level(
    spark, tmp_path, lake
):
    """A lake table laid out as ``{t}_year=/{t}_month=`` with no
    ``company=`` level keeps its rows through an upsert: partition
    discovery finds no company column, so no company filter applies,
    and the merged partition lands under ``company=``. (Read as a data
    column, ``company`` would be NULL and the filter would drop every
    existing row.)"""
    from data_ingestor_gluejob_script_spark.pipeline import (
        lake_table_root,
        write_partitioned_upsert,
    )

    spec = SUBS
    ycol, mcol = f"{spec.name}_year", f"{spec.name}_month"
    root = lake_table_root(lake, spec.name)
    old = _sub("s1", "2024-01-10 10:00:00", "2024-01-10 10:00:00")
    spark.createDataFrame(
        [[old[c] for c in spec.columns] + [2024, 1]],
        list(spec.columns) + [ycol, mcol],
    ).write.partitionBy(ycol, mcol).parquet(root)

    new = _sub("s2", "2024-01-20 10:00:00", "2024-01-20 10:00:00")
    batch = spark.createDataFrame(
        [[new[c] for c in spec.columns]], list(spec.columns)
    )
    assert write_partitioned_upsert(spark, batch, spec, lake) == 2
    got = spark.read.parquet(f"{root}/company=Locaweb")
    assert {r.id for r in got.collect()} == {"s1", "s2"}


def test_scheduled_day_job_count(spark, tmp_path, lake, count_jobs):
    """A warm Scheduled day of retail_provisionings — the 3-hop chain
    extract over four CSVs, the touched-partition merge and the
    watermark commit — launches 7 Spark jobs. None of them discovers a
    schema: the CSV headers are read on the driver and the lake read
    takes the writer's schema (header inference and the lake's footer
    merge cost 5 more). None of them shuffles the batch either: its
    evaluation pass finds the ids unique, so the merge skips the dedup
    window, and the anti join takes its keys from the batch (the
    window's shuffle and its copy on the keys side cost 2 more)."""
    src = str(tmp_path / "src" / "corleone")
    created = "2024-01-10 10:00:00"
    fresh = "2024-02-15 10:00:00"  # past the default watermark
    for spec, rows in [
        (SUBS, [_sub("s1", created, fresh), _sub("s2", created, created)]),
        (PLANS, [_plan("pl1", "s1", created), _plan("pl2", "s2", created)]),
        (CATALOG["retail_items"], [
            _row(CATALOG["retail_items"], id="it1", retail_plan_id="pl1"),
            _row(CATALOG["retail_items"], id="it2", retail_plan_id="pl2"),
        ]),
        (CATALOG["retail_provisionings"], [
            _row(CATALOG["retail_provisionings"], id=f"pr{i}",
                 retail_item_id=item, created_at=f"2024-0{m}-05 08:00:00")
            for i, (item, m) in enumerate(
                [("it1", 1), ("it1", 2), ("it2", 1)]
            )
        ]),
    ]:
        _write_csv(src, spec, rows)
    table = ["retail_provisionings"]
    now = datetime(2024, 2, 10)
    pipeline.run(
        spark, "OnDemand", table[0], lake,
        WatermarkStore(str(tmp_path / "wm_load.json"), table, now=now),
        source_root=str(tmp_path / "src"),
    )

    def day(i):
        return pipeline.run(
            spark, "Scheduled", table[0], lake,
            WatermarkStore(str(tmp_path / f"wm{i}.json"), table, now=now),
            source=LocalFileSource(src, clock=datetime(2024, 3, 1)),
        )

    day(0)  # warm: first-use planning and file listings
    result, jobs = count_jobs(lambda: day(1))
    # pr0 and pr1 qualify through s1; the merge rewrites both months
    assert result.tables == {"retail_provisionings": 3}
    assert jobs == 7


def test_initial_load_windows_dup_id_csv(spark, tmp_path, lake, write_plan):
    """The sort-merge arm (initial load, backfills) observes no id set,
    so it keeps the dedup window: a CSV with a duplicate id lands as
    one row, the lowest value winning the tie ("archived" <
    "canceled"), into an empty lake and over an existing one."""
    src = str(tmp_path / "src")
    _write_csv(f"{src}/corleone", SUBS, [
        _sub("s1", "2024-01-10 10:00:00", "2024-01-10 10:00:00", "canceled"),
        _sub("s1", "2024-01-10 10:00:00", "2024-01-10 10:00:00", "archived"),
        _sub("s2", "2024-02-05 09:30:00", "2024-02-05 09:30:00"),
    ])
    for _ in range(2):  # no lake yet, then the merge over the first load
        result, plan = write_plan(lambda: pipeline.initial_load(
            spark, src, lake, [SUBS.name]
        ))
        assert result.tables == {SUBS.name: 2}
        assert "Window" in plan
        got = {
            r.id: r.status
            for r in _read_lake(spark, lake, SUBS.name).collect()
        }
        assert got == {"s1": "archived", "s2": "active"}


def test_forget_rows_partition_scoped_erasure(spark, tmp_path, lake):
    """Right-to-be-forgotten: requested ids vanish, only partitions
    containing them are rewritten (untouched partition files stay
    byte-identical), a fully-erased partition's directory disappears,
    and unknown ids are a no-op returning 0."""
    import glob

    from data_ingestor_gluejob_script_spark.pipeline import (
        forget_rows,
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    rows = (
        [_sub(f"jan{i}", "2024-01-10 10:00:00", "2024-01-10 10:00:00")
         for i in range(10)]
        + [_sub(f"feb{i}", "2024-02-10 10:00:00", "2024-02-10 10:00:00")
           for i in range(10)]
        + [_sub(f"mar{i}", "2024-03-10 10:00:00", "2024-03-10 10:00:00")
           for i in range(3)]
    )
    df = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in rows], list(spec.columns)
    )
    write_partitioned_upsert(spark, df, spec, lake)
    root = f"{lake}/raw/locaweb/{spec.name}"

    def snap(month):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(
                f"{root}/company=Locaweb/*/"
                f"{spec.name}_month={month}/*.parquet"
            )
        }

    feb_before = snap(2)
    assert feb_before

    # erase 3 january rows + the ENTIRE march partition
    ids = spark.createDataFrame(
        [("jan0",), ("jan1",), ("jan2",), ("mar0",), ("mar1",), ("mar2",)],
        "id string",
    )
    n = forget_rows(spark, ids, spec, lake)
    assert n == 6

    remaining = spark.read.parquet(root)
    kept_ids = {r.id for r in remaining.select("id").collect()}
    assert kept_ids == {f"jan{i}" for i in range(3, 10)} | {
        f"feb{i}" for i in range(10)
    }
    # february was untouched: same files, same mtimes
    assert snap(2) == feb_before
    # march directory is gone entirely (dynamic overwrite can't empty
    # a partition — forget_rows must delete it explicitly)
    assert not glob.glob(f"{root}/company=Locaweb/*/{spec.name}_month=3")

    # unknown ids: no-op, nothing rewritten
    jan_after = snap(1)
    n2 = forget_rows(
        spark,
        spark.createDataFrame([("ghost",)], "id string"),
        spec,
        lake,
    )
    assert n2 == 0
    assert snap(1) == jan_after


def test_apply_cdc_batch(spark, tmp_path, lake):
    """Debezium-style change batch: I/U merge, D erases, and a key
    with several changes in one batch resolves to its LAST change
    (delete wins a timestamp tie)."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        apply_cdc_batch,
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    base = [
        _sub(f"s{i}", "2024-01-10 10:00:00", "2024-01-10 10:00:00")
        for i in range(5)
    ]
    df = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in base], list(spec.columns)
    )
    write_partitioned_upsert(spark, df, spec, lake)
    root = f"{lake}/raw/locaweb/{spec.name}"

    def change(id, updated, op, status="active"):
        r = _sub(id, "2024-01-10 10:00:00", updated, status=status)
        r["_op"] = op
        return r

    cols = list(spec.columns) + ["_op"]
    changes = [
        change("s0", "2024-01-11 00:00:00", "U", status="cancelled"),
        change("s9", "2024-01-11 00:00:00", "I"),
        change("s1", "2024-01-11 00:00:00", "D"),
        # s2: updated then deleted later -> delete wins
        change("s2", "2024-01-11 00:00:00", "U"),
        change("s2", "2024-01-12 00:00:00", "D"),
        # s3: deleted then REINSERTED later -> upsert wins
        change("s3", "2024-01-11 00:00:00", "D"),
        change("s3", "2024-01-12 00:00:00", "U", status="revived"),
        # s4: same-timestamp update and delete -> delete wins the tie
        change("s4", "2024-01-11 00:00:00", "U"),
        change("s4", "2024-01-11 00:00:00", "D"),
    ]
    cdf = spark.createDataFrame(
        [[r[c] for c in cols] for r in changes], cols
    )
    n_up, n_del = apply_cdc_batch(spark, cdf, spec, lake)
    assert (n_up, n_del) == (3, 3)  # s0,s9,s3 upserted; s1,s2,s4 erased

    got = {
        r.id: r.status for r in spark.read.parquet(root).collect()
    }
    assert set(got) == {"s0", "s3", "s9"}
    assert got["s0"] == "cancelled"
    assert got["s3"] == "revived"


def test_forget_rows_scoped_to_company(spark, tmp_path, lake):
    """A multi-company lake: erasing ids for one company must leave
    the other company's rows (same ids!) untouched and must not count
    or target its partitions."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        forget_rows,
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    rows = [
        _sub(f"s{i}", "2024-01-10 10:00:00", "2024-01-10 10:00:00")
        for i in range(4)
    ]
    df = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in rows], list(spec.columns)
    )
    write_partitioned_upsert(spark, df, spec, lake, company="A")
    write_partitioned_upsert(spark, df, spec, lake, company="B")
    root = f"{lake}/raw/locaweb/{spec.name}"

    ids = spark.createDataFrame([("s0",), ("s1",)], "id string")
    n = forget_rows(spark, ids, spec, lake, company="A")
    assert n == 2
    got = {
        (r.company, r.id)
        for r in spark.read.parquet(root).select("company", "id").collect()
    }
    assert got == {("A", "s2"), ("A", "s3")} | {
        ("B", f"s{i}") for i in range(4)
    }


def test_apply_cdc_batch_rejects_unknown_ops(spark, tmp_path, lake):
    """NULL or unexpected op codes must abort the batch loudly, not
    vanish (upper(NULL) satisfies neither filter) or upsert (a
    Debezium 't' truncate is not an insert)."""
    import pytest as _pytest

    from data_ingestor_gluejob_script_spark.pipeline import apply_cdc_batch

    spec = CATALOG["retail_subscriptions"]
    cols = list(spec.columns) + ["_op"]

    def change(id, op):
        r = _sub(id, "2024-01-10 10:00:00", "2024-01-10 10:00:00")
        r["_op"] = op
        return r

    for bad in ["T", None]:
        cdf = spark.createDataFrame(
            [[r[c] for c in cols]
             for r in [change("s1", "U"), change("s2", bad)]],
            cols,
        )
        with _pytest.raises(ValueError, match="unsupported ops"):
            apply_cdc_batch(spark, cdf, spec, lake)


def test_apply_cdc_batch_tie_break_is_deterministic(spark, tmp_path, lake):
    """Two equal-watermark upserts for one key: the survivor is chosen
    by full-row hash — identical across partitionings and reruns."""
    from data_ingestor_gluejob_script_spark.pipeline import apply_cdc_batch

    spec = CATALOG["retail_subscriptions"]
    cols = list(spec.columns) + ["_op"]

    def change(status):
        r = _sub("s1", "2024-01-10 10:00:00", "2024-01-11 00:00:00",
                 status=status)
        r["_op"] = "U"
        return r

    rows = [[r[c] for c in cols] for r in (change("alpha"), change("beta"))]
    winners = set()
    for parts in (1, 7):
        cdf = spark.createDataFrame(rows, cols).repartition(parts)
        lake_dir = str(tmp_path / f"lake{parts}")
        apply_cdc_batch(spark, cdf, spec, lake_dir)
        root = f"{lake_dir}/raw/locaweb/{spec.name}"
        got = [r.status for r in spark.read.parquet(root).collect()]
        assert len(got) == 1
        winners.add(got[0])
    assert len(winners) == 1  # same winner regardless of partitioning


def test_apply_cdc_batch_null_wm_delete_wins(spark, tmp_path, lake):
    """A Debezium-style tombstone (delete with NULL watermark — no
    payload) must still erase its key, even against a dated upsert in
    the same batch: nulls-last ordering would silently discard the
    erasure, the worst failure for a right-to-be-forgotten path. A
    null-wm UPSERT, by contrast, keeps losing to any dated change."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        apply_cdc_batch,
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    base = [
        _sub(f"s{i}", "2024-01-10 10:00:00", "2024-01-10 10:00:00")
        for i in range(3)
    ]
    df = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in base], list(spec.columns)
    )
    write_partitioned_upsert(spark, df, spec, lake)
    root = f"{lake}/raw/locaweb/{spec.name}"

    def change(id, updated, op, status="active"):
        r = _sub(id, "2024-01-10 10:00:00", updated, status=status)
        r["_op"] = op
        return r

    cols = list(spec.columns) + ["_op"]
    changes = [
        # s0: dated update + NULL-wm tombstone -> delete wins
        change("s0", "2024-01-11 00:00:00", "U", status="cancelled"),
        change("s0", None, "D"),
        # s1: NULL-wm update + dated update -> the dated one wins
        change("s1", None, "U", status="undated"),
        change("s1", "2024-01-11 00:00:00", "U", status="dated"),
    ]
    cdf = spark.createDataFrame([[r[c] for c in cols] for r in changes], cols)
    n_up, n_del = apply_cdc_batch(spark, cdf, spec, lake)
    assert (n_up, n_del) == (1, 1)
    got = {r.id: r.status for r in spark.read.parquet(root).collect()}
    assert set(got) == {"s1", "s2"}  # s0 erased by the tombstone
    assert got["s1"] == "dated"


def test_apply_cdc_batch_fused_cross_partition_delete(spark, tmp_path, lake):
    """Round-9 fused CDC apply: deletes landing in a partition the
    upserts never touch still erase (and a fully-emptied partition's
    directory disappears), untouched partitions stay byte-identical,
    and the counts match the unfused contract."""
    import os

    from data_ingestor_gluejob_script_spark.pipeline import (
        apply_cdc_batch,
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    # three monthly partitions: Jan (s0,s1), Feb (f0 -- will fully
    # empty), Mar (m0 -- untouched)
    base = [
        _sub("s0", "2024-01-10 10:00:00", "2024-01-10 10:00:00"),
        _sub("s1", "2024-01-11 10:00:00", "2024-01-11 10:00:00"),
        _sub("f0", "2024-02-10 10:00:00", "2024-02-10 10:00:00"),
        _sub("m0", "2024-03-10 10:00:00", "2024-03-10 10:00:00"),
    ]
    df = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in base], list(spec.columns)
    )
    write_partitioned_upsert(spark, df, spec, lake)
    root = f"{lake}/raw/locaweb/{spec.name}"
    mar_dir = (
        f"{root}/company=Locaweb/{spec.name}_year=2024/{spec.name}_month=3"
    )
    feb_dir = (
        f"{root}/company=Locaweb/{spec.name}_year=2024/{spec.name}_month=2"
    )
    mar_files = {
        f: os.path.getmtime(f"{mar_dir}/{f}") for f in os.listdir(mar_dir)
    }

    cols = list(spec.columns) + ["_op"]
    changes = []
    u = _sub("s0", "2024-01-10 10:00:00", "2024-01-12 00:00:00",
             status="cancelled")
    u["_op"] = "U"
    changes.append(u)
    d = _sub("f0", "2024-02-10 10:00:00", "2024-02-12 00:00:00")
    d["_op"] = "D"
    changes.append(d)
    cdf = spark.createDataFrame(
        [[r[c] for c in cols] for r in changes], cols
    )
    n_up, n_del = apply_cdc_batch(spark, cdf, spec, lake)
    assert (n_up, n_del) == (1, 1)

    got = {r.id: r.status for r in spark.read.parquet(root).collect()}
    assert got == {"s0": "cancelled", "s1": "active", "m0": "active"}
    # Feb fully emptied -> directory gone; Mar untouched byte-for-byte
    assert not os.path.exists(feb_dir)
    assert {
        f: os.path.getmtime(f"{mar_dir}/{f}") for f in os.listdir(mar_dir)
    } == mar_files


def _cdc_lake(spark, tmp_path, name) -> str:
    """A fresh lake holding s0, s1 (Jan), f0 (Feb) and m0 (Mar)."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        write_partitioned_upsert,
    )

    lake = str(tmp_path / name)
    base = [
        _sub("s0", "2024-01-10 10:00:00", "2024-01-10 10:00:00"),
        _sub("s1", "2024-01-11 10:00:00", "2024-01-11 10:00:00"),
        _sub("f0", "2024-02-10 10:00:00", "2024-02-10 10:00:00"),
        _sub("m0", "2024-03-10 10:00:00", "2024-03-10 10:00:00"),
    ]
    write_partitioned_upsert(spark, spark.createDataFrame(
        [[r[c] for c in SUBS.columns] for r in base], list(SUBS.columns)
    ), SUBS, lake)
    return lake


def _cdc_changes(spark, changes):
    """A CDC batch of ``(id, created, updated, op[, status])`` rows."""
    cols = list(SUBS.columns) + ["_op"]
    rows = [
        dict(_sub(id, created, updated, *status), _op=op)
        for id, created, updated, op, *status in changes
    ]
    return spark.createDataFrame([[r[c] for c in cols] for r in rows], cols)


def _cdc_case(spark, tmp_path, name, changes):
    """The counts and the lake's ``{id: status}`` after ``changes``
    are applied to a fresh ``_cdc_lake``."""
    from data_ingestor_gluejob_script_spark.pipeline import apply_cdc_batch

    lake = _cdc_lake(spark, tmp_path, name)
    counts = apply_cdc_batch(spark, _cdc_changes(spark, changes), SUBS, lake)
    got = {r.id: r.status for r in _read_lake(spark, lake, SUBS.name).collect()}
    return counts, got


# s0 updated in Jan; s1 (Jan) and f0 (Feb, which empties) deleted
CDC_DAY = [
    ("s0", "2024-01-10 10:00:00", "2024-01-12 00:00:00", "U", "cancelled"),
    ("s1", "2024-01-11 10:00:00", "2024-01-12 00:00:00", "D"),
    ("f0", "2024-02-10 10:00:00", "2024-02-12 00:00:00", "D"),
]


@pytest.mark.parametrize("upsert", [True, False], ids=["fused", "erasure"])
def test_apply_cdc_batch_double_delete_matches_single(
    spark, tmp_path, upsert
):
    """An id deleted twice in one batch — at a later watermark (s1) or
    at the same one (f0) — erases exactly as one delete does, on the
    fused rewrite and on the pure-erasure route alike: the last-change
    window leaves one delete per id, so the delete keys need no
    distinct before their broadcast joins."""
    once = CDC_DAY if upsert else CDC_DAY[1:]
    twice = once + [
        ("s1", "2024-01-11 10:00:00", "2024-01-13 00:00:00", "D"),
        ("f0", "2024-02-10 10:00:00", "2024-02-12 00:00:00", "D"),
    ]
    want = _cdc_case(spark, tmp_path, "once", once)
    assert want == (
        ((1, 2), {"s0": "cancelled", "m0": "active"})
        if upsert
        else ((0, 2), {"s0": "active", "m0": "active"})
    )
    assert _cdc_case(spark, tmp_path, "twice", twice) == want


def test_fused_cdc_batch_job_count(spark, tmp_path, count_jobs):
    """One warm fused CDC batch — an update, a delete in the updated
    partition and one that empties another — launches 16 Spark jobs.
    The emptied partition comes from the write's Observation, not from
    a collect of the partitions that keep rows (3 jobs), and the
    last-change window is pinned once, not evaluated by each of its
    four readers (2 more). The delete keys and the persisted upserts both come out of the
    last-change window hash-partitioned on the id, so a distinct over
    the keys or the merge's dedup window would add no exchange and no
    job: dropping them saves operators, not jobs."""
    from data_ingestor_gluejob_script_spark.pipeline import apply_cdc_batch

    _cdc_case(spark, tmp_path, "warm", CDC_DAY)
    lake = _cdc_lake(spark, tmp_path, "day")
    cdf = _cdc_changes(spark, CDC_DAY)
    counts, jobs = count_jobs(
        lambda: apply_cdc_batch(spark, cdf, SUBS, lake)
    )
    assert counts == (1, 2)
    assert jobs == 16


def test_upsert_is_company_scoped_on_multi_company_lake(
    spark, tmp_path, lake
):
    """Round-9 fix: the merge's existing read filters to the target
    company — on a two-company lake an upsert into A must neither
    absorb B's rows into A's partitions nor disturb B's files."""
    import os

    from data_ingestor_gluejob_script_spark.pipeline import (
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]

    def df_of(rows):
        return spark.createDataFrame(
            [[r[c] for c in spec.columns] for r in rows],
            list(spec.columns),
        )

    a = [_sub("a0", "2024-01-10 10:00:00", "2024-01-10 10:00:00")]
    b = [_sub("b0", "2024-01-15 10:00:00", "2024-01-15 10:00:00")]
    write_partitioned_upsert(spark, df_of(a), spec, lake, company="A")
    write_partitioned_upsert(spark, df_of(b), spec, lake, company="B")
    root = f"{lake}/raw/locaweb/{spec.name}"
    b_dir = f"{root}/company=B/{spec.name}_year=2024/{spec.name}_month=1"
    b_files = {
        f: os.path.getmtime(f"{b_dir}/{f}") for f in os.listdir(b_dir)
    }

    upd = [
        _sub("a0", "2024-01-10 10:00:00", "2024-01-20 00:00:00",
             status="cancelled")
    ]
    write_partitioned_upsert(spark, df_of(upd), spec, lake, company="A")

    rows = spark.read.parquet(root).collect()
    by_company = {}
    for r in rows:
        by_company.setdefault(r["company"], set()).add(r.id)
    assert by_company == {"A": {"a0"}, "B": {"b0"}}
    assert {
        f: os.path.getmtime(f"{b_dir}/{f}") for f in os.listdir(b_dir)
    } == b_files


def test_erasure_on_hive_escaped_company_dir(spark, tmp_path, lake):
    """Third-pass review finding: the writer Hive-escapes partition
    values in directory names (company=Foo%3ABar for "Foo:Bar"); the
    erasure cleanup must address the SAME escaped path or a fully-
    erased partition's files survive and the deleted rows stay
    readable."""
    import os

    from data_ingestor_gluejob_script_spark.pipeline import (
        forget_rows,
        write_partitioned_upsert,
    )

    spec = CATALOG["retail_subscriptions"]
    rows = [_sub("x0", "2024-02-10 10:00:00", "2024-02-10 10:00:00")]
    df = spark.createDataFrame(
        [[r[c] for c in spec.columns] for r in rows], list(spec.columns)
    )
    write_partitioned_upsert(spark, df, spec, lake, company="Foo:Bar")
    root = f"{lake}/raw/locaweb/{spec.name}"
    esc_dir = f"{root}/company=Foo%3ABar"
    assert os.path.exists(esc_dir)  # the writer escaped the value

    month_dir = (
        f"{esc_dir}/{spec.name}_year=2024/{spec.name}_month=2"
    )
    assert os.path.exists(month_dir)
    ids = spark.createDataFrame([("x0",)], "id string")
    n = forget_rows(spark, ids, spec, lake, company="Foo:Bar")
    assert n == 1
    # the fully-erased partition directory is GONE (an unescaped path
    # would have missed it and left the row readable); the empty
    # company shell above it remains, same as for plain companies
    assert not os.path.exists(month_dir)
    remaining = [
        f
        for _, _, files in os.walk(esc_dir)
        for f in files
        if f.endswith(".parquet")
    ]
    assert remaining == []


def test_upsert_dup_id_batch_and_backfill_arm_match_window_form(
    spark, tmp_path, lake
):
    """r13: the lake merge is merge_upsert (scoped lake never
    shuffles). Its contract must still cover (a) a batch carrying the
    SAME id twice (a re-extraction overlap) — within-batch dedup picks
    one deterministic winner, incoming beats lake; and (b) the
    broadcast_batch=False backfill arm producing the identical lake."""
    from data_ingestor_gluejob_script_spark.pipeline import (
        write_partitioned_upsert,
    )

    base = spark.createDataFrame(
        [
            tuple(r[c] for c in SUBS.columns)
            for r in [
                _sub("d1", "2024-01-10 10:00:00", "2024-01-10 10:00:00"),
                _sub("d2", "2024-01-11 10:00:00", "2024-01-11 10:00:00"),
            ]
        ],
        SUBS.spark_schema,
    )
    write_partitioned_upsert(spark, base, SUBS, lake)

    dup_rows = [
        _sub("d1", "2024-01-10 10:00:00", "2024-01-20 08:00:00",
             status="cancelled"),
        _sub("d1", "2024-01-10 10:00:00", "2024-01-20 08:00:00",
             status="active"),
        _sub("d3", "2024-01-12 10:00:00", "2024-01-12 10:00:00"),
    ]
    batch = spark.createDataFrame(
        [tuple(r[c] for c in SUBS.columns) for r in dup_rows],
        SUBS.spark_schema,
    )
    n = write_partitioned_upsert(spark, batch, SUBS, lake)
    assert n == 3  # d1 winner + d2 (lake) + d3
    got = {
        r.id: r.status for r in _read_lake(spark, lake, SUBS.name).collect()
    }
    # within-batch tie broken by the stable value ordering
    # (asc_nulls_last over non-key columns → "active" < "cancelled")
    assert got == {"d1": "active", "d2": "active", "d3": "active"}

    # backfill arm: same batch into a fresh copy of the same lake
    # state must produce the identical table
    lake2 = str(tmp_path / "lake2")
    write_partitioned_upsert(spark, base, SUBS, lake2)
    write_partitioned_upsert(
        spark, batch, SUBS, lake2, broadcast_batch=False
    )
    got2 = {
        r.id: r.status
        for r in _read_lake(spark, lake2, SUBS.name).collect()
    }
    assert got2 == got
