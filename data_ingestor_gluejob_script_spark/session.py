"""SparkSession factory.

One place to encode the execution-model choices that matter at 100 TB:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
UTC session timezone (oracle comparability; the reference never pins a
timezone and relies on the Glue driver's clock, gluejob.py:78-83),
snappy parquet (gluejob.py:201), and a shuffle-partition count sized to
the machine rather than Spark's 200 default.
"""

from __future__ import annotations

import getpass
import os
import tempfile

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """``spark.driver.memory`` for a session this process launches:
    ``SPARK_GRAFT_DRIVER_MEM`` when set, else 60 % of the host's
    physical RAM in whole GiB, at least 1g and at most 24g. A fixed
    24g heap on a 15 GB host lets the JVM grow past what the machine
    has. Under that heap the ingest benchmark's peak driver RSS
    measured 2.2–3.5 GB (perfbench/METRICS.md), so the derived heap
    binds only on small hosts."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(24, max(1, int(ram * 0.6) // 2**30))}g"


def get_spark(
    app_name: str = "data-ingestor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    In tests/bench this is local mode; on a real cluster the same config
    block applies — AQE owns runtime partition sizing so the static
    ``shuffle.partitions`` value is only the pre-AQE upper bound.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    try:
        user = getpass.getuser()
    except Exception:  # noqa: BLE001 — no USER/LOGNAME in the env
        user = str(os.getuid()) if hasattr(os, "getuid") else "shared"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start shuffles WIDE and let AQE coalesce down: the static
        # shuffle_partitions (=cpus) is the right POST-coalesce
        # target, but as the pre-AQE width it caps big joins at
        # ~|input|/cpus rows per reducer and spills (round-11 sf10
        # smoke: the 60M-row full-outer diff ran 63.5 s at width 32,
        # 29.5 s at 256 — AQE still coalesces sf0.1's tiny shuffles
        # to a handful of partitions either way). At 100 TB the same
        # principle holds with bigger numbers: initial width scales
        # with the cluster, AQE owns the merge.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(256, shuffle_partitions * 8)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Testdata events.ts has shipped as both TIMESTAMP(NANOS) and
        # timestamp[us] across regenerations; nanosAsLong keeps the
        # NANOS encoding readable (as long) without mid-query conf
        # mutation and is a no-op for non-nanos files. The per-read
        # normalization lives in queries/_util.read_events.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Managed-table scratch (write_bucketed's catalog tables, e.g.
        # the bucketed 3-hop layout of SCALE.md "Round-12: the bucketed
        # lake layout") belongs in temp space, not a ./spark-warehouse
        # dir inside whatever cwd launched the job. Per-user suffix:
        # on a multi-user host a fixed shared path is owned by
        # whoever ran first, and other users' managed-table writes
        # (fixed table names) fail or collide.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE")
            or os.path.join(
                tempfile.gettempdir(), f"spark-graft-warehouse-{user}"
            ),
        )
        # Only effective when THIS call launches the JVM — getOrCreate
        # against an already-running session keeps its original heap.
        # For spark-submit deployments set it on the submit command.
        .config("spark.driver.memory", default_driver_memory())
        # G1 sizes its regions from the max heap: 16 MB under a 24g
        # heap, 8 MB under the 9g a 15 GB host now gets. At 8 MB every
        # object of 4 MB or more is a humongous allocation straight
        # into the old generation: one ingest benchmark run (4 cores,
        # seed 3) took 206 young collections and 7.9 s of GC CPU at
        # 9g, against 88 and 4.0 s at 24g; 9g with 16 MB regions took
        # 88 and 4.1 s. Spark prepends this to
        # spark.driver.extraJavaOptions, so a caller's own JVM options
        # still apply.
        .config("spark.driver.defaultJavaOptions", "-XX:G1HeapRegionSize=16m")
        # Generated-class cache (static conf, default 100 entries).
        # r17, measured: a driver that runs MANY distinct plans in one
        # JVM — this engine's inventory is 120 benched paths; a
        # production deployment is a long-lived job server — thrashes
        # the 100-entry LRU, and every query pays Janino recompilation
        # of its WholeStageCodegen fragments on each resubmission. The
        # deepest plan is hit hardest: q_ngram_jaccard_pairs inside
        # its 10-query bench batch measured 2.22 s best-of-5 at the
        # default vs 1.41 s at 5000 (same night, same batch, same
        # code; the r16 "regression" the r16 verdict ranked #1 was
        # exactly this cliff — the batch's fragment population crossed
        # 100 entries). Cost: cached compiled classes on the driver
        # heap, tens of MB at this setting — scale-independent, so the
        # same value is right at 100 TB. Env-overridable for A/B.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "5000"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_storage_level():
    """StorageLevel for corpus-sized frame pins (r16 verdict #7).

    The single-evaluation fixes in ``operators/graph`` and
    ``queries/similarity`` pin corpus-sized frames (candidate-pair
    edge plans, tagged embedding frames) with ``localCheckpoint``.
    The default level, MEMORY_AND_DISK, is right for local/bench runs
    — the pinned partitions are small and a memory hit makes the
    immediate re-reads cheap — but at 100 TB those frames compete
    with execution memory in every executor (guide §5: cached data vs
    execution memory). ``SPARK_GRAFT_PIN_LEVEL=DISK_ONLY`` (or any
    ``StorageLevel`` attribute name, e.g. MEMORY_AND_DISK_SER)
    switches every such pin to a level that stays out of the
    execution pool, the same choice fuzzyjoin's staged passes already
    hard-code. Unset → None → pyspark's localCheckpoint default,
    byte-identical behavior to r16."""
    from pyspark import StorageLevel

    name = os.environ.get("SPARK_GRAFT_PIN_LEVEL", "").strip()
    if not name:
        return None
    level = getattr(StorageLevel, name, None)
    if level is None:
        raise ValueError(
            f"SPARK_GRAFT_PIN_LEVEL={name!r} is not a StorageLevel "
            "attribute (try DISK_ONLY or MEMORY_AND_DISK_SER)"
        )
    return level


def pin(df, eager: bool = True):
    """``localCheckpoint`` at the configured pin level — one seam for
    every corpus-sized pin; see :func:`pin_storage_level`.

    ``eager=True`` runs one job now that computes and caches every
    partition. ``eager=False`` only marks the plan: the first action
    over the returned frame caches the partitions it computes, and
    before that action returns Spark computes any partitions it did
    not read. So that first action is also the checkpoint job, and
    every later reader still gets the once-evaluated data."""
    return df.localCheckpoint(eager=eager, storageLevel=pin_storage_level())


def local_frame(spark, rows, schema):
    """A driver-built frame handed to the JVM as ONE Arrow batch.

    ``rows`` is a sequence of tuples in field order; ``schema`` is a
    ``StructType`` or a DDL string. The rows become a
    ``pyarrow.Table`` typed by ``to_arrow_schema(schema)``, which
    Spark turns into a ``LocalRelation``: it plans as a
    ``LocalTableScan`` with exact size stats, so the planner can
    broadcast it, and it needs no Python worker.
    ``createDataFrame(list, schema)`` instead parallelizes pickled
    rows into a Python RDD: every action that reads it starts Python
    workers to unpickle them, and its stats-less ``Scan ExistingRDD``
    is never broadcast."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
