"""File sources (S1/S2): CSV and parquet scans.

Reference parity:
- S1 CSV scan (gluejob.py:226-242): per-table separator, schema-driven
  column pruning (``usecols``), all-string coercion, missing file →
  ``None`` + continue. Here: the header record, read on the driver,
  becomes an explicit string schema on ``spark.read.csv``, which gives
  Catalyst the projection for free, and the missing-source contract
  surfaces as ``None`` (caller skips, matching gluejob.py:167-169).
- S2 parquet read-back of one lake partition (gluejob.py:207-224):
  ``NoSuchKey`` → ``None`` ("create empty").

At scale both readers are plain distributed scans; the driver reads
no more than a CSV's header record.
"""

from __future__ import annotations

import csv
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from ..registry import TableSpec


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` under the session's Hadoop
    configuration (local, HDFS and s3a alike)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _csv_header(spark: SparkSession, path: str, sep: str) -> list[str] | None:
    """Column names of a CSV file's header record, as Spark's header
    inference would name them, or ``None`` if the file does not exist.

    One ``exists()`` and one ``open`` on the driver, no Spark job. The
    record is parsed in the reader's dialect: ``sep``, ``"`` quoting,
    doubled quotes, a leading UTF-8 BOM dropped, blank lines before it
    skipped; a quoted name spanning several lines is read until its
    quote closes. Names then get Spark's own clean-up
    (``CSVUtils.makeSafeHeader``): an empty name becomes ``_c{i}`` and
    each copy of a duplicated name (case-insensitively, unless
    ``spark.sql.caseSensitive``) gets its index appended, so a
    duplicated schema column reads as missing rather than ambiguous.
    """
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    jio = spark._jvm.java.io
    reader = jio.BufferedReader(jio.InputStreamReader(fs.open(p), "UTF-8"))
    try:

        def lines():
            while (line := reader.readLine()) is not None:
                yield line.removeprefix("\ufeff") + "\n"

        records = csv.reader(lines(), delimiter=sep, quotechar='"', doublequote=True)
        row = next((r for r in records if r), [])
    finally:
        reader.close()
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    key = (lambda n: n) if case_sensitive else str.lower
    counts = Counter(key(n) for n in row if n)
    return [
        f"_c{i}" if not n else f"{n}{i}" if counts[key(n)] > 1 else n
        for i, n in enumerate(row)
    ]


def read_csv_table(spark: SparkSession, path: str, spec: TableSpec) -> DataFrame | None:
    """S1: schema-pruned, string-typed CSV scan (gluejob.py:226-242).

    Columns are selected BY NAME against the file's header, matching
    the reference's ``usecols`` semantics (gluejob.py:234-236): a
    source file with reordered or extra columns maps correctly (extras
    dropped), and a missing schema column raises instead of silently
    mis-assigning data. The header is read on the driver
    (``_csv_header``) and handed to the scan as an all-string schema
    in the FILE's own column order, so the positional binding of an
    explicit schema is the by-name binding, and no schema-inference
    job runs. Pruning reaches the scan via the final select.

    ``path`` names one CSV file (the reference's layout: one object
    per table). A missing file returns ``None`` so the caller can
    log-and-continue (gluejob.py:167-169,238-240).

    Dialect matches pandas' (the reference parser): ``escape='"'`` for
    the doubled-quote convention (Spark's default escape is backslash)
    and ``multiLine`` so quoted fields containing newlines — XML/JSON
    blobs like retail_orders.checkout_order_xml — stay one record
    instead of splitting into malformed rows. multiLine makes each
    FILE unsplittable; the reference's layout is one CSV per table, so
    nothing is lost, and a huge multi-line CSV should be re-staged as
    parquet anyway.
    """
    header = _csv_header(spark, path, spec.csv_sep)
    if header is None:
        return None
    missing = [c for c in spec.columns if c not in header]
    if missing:
        raise ValueError(
            f"{path} is missing schema columns {missing} "
            f"(header: {sorted(header)})"
        )
    schema = T.StructType([T.StructField(c, T.StringType()) for c in header])
    return (
        spark.read.schema(schema)
        .options(sep=spec.csv_sep, header=True, escape='"', multiLine=True)
        .csv(path)
        .select(*spec.columns)
    )


def read_parquet_table(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """S2: read an existing lake table; absent (no such path, or no
    data files under it) → None (gluejob.py:207-224).

    ``schema`` — the data columns the caller needs, typed — makes the
    read plan-only: partition discovery still supplies the partition
    columns (leave them out of ``schema``), no footer is opened, and a
    column that older files lack reads as a typed NULL while one the
    schema omits is never read.

    Without it the read merges every footer (``mergeSchema``, one
    Spark job), because a long-lived lake holds files written under
    several schema generations: the default scan types the table from
    one footer, silently dropping columns that only newer (or older)
    files carry — merge instead, so every generation's columns surface
    (absent values read as NULL)."""
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
        return df if len(df._jdf.inputFiles()) else None
    try:
        return spark.read.option("mergeSchema", "true").parquet(path)
    except AnalysisException:  # no data files to take a schema from
        return None


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver-provided testdata table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def read_json_table(spark: SparkSession, path: str, spec: TableSpec) -> DataFrame | None:
    """JSON-lines scan behind the same contract as the CSV reader:
    by-name mapping, all-string lake coercion, missing file → None,
    missing schema column → error. (Not in the reference — source-
    format completeness for the same ingestion semantics.)"""
    try:
        df = spark.read.json(path)
        header = set(df.columns)
    except AnalysisException:
        return None
    missing = [c for c in spec.columns if c not in header]
    if missing:
        raise ValueError(
            f"{path} is missing schema columns {missing} "
            f"(fields: {sorted(header)})"
        )
    return df.select(*[F.col(c).cast("string").alias(c) for c in spec.columns])


CORRUPT_COL = "_corrupt_record"


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """JSONL scan that QUARANTINES malformed lines instead of silently
    nulling them (Spark's default PERMISSIVE read without a corrupt
    column loses bad lines without a trace — fatal for crawl
    ingestion, where a truncated shard looks like a clean small one).
    Returns (good, bad): ``good`` carries the declared schema with
    every row that parsed; ``bad`` carries (raw_line, src_file) for
    every line that didn't — verbatim, so the quarantine lake can be
    re-parsed after a schema fix.

    ``schema`` is the DDL of the EXPECTED fields ("doc_id LONG, text
    STRING"); declaring it (instead of inferring) is also what makes
    the scan single-pass at 100 TB — inference reads everything once
    before the real read.

    Shape: a TEXT scan + ``from_json`` per line, NOT
    ``spark.read.json`` with a corrupt column — Spark disallows plans
    whose required scan columns are only the corrupt column
    (SPARK-21610 / UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    COLUMN; its documented workaround is `.cache()`, a non-starter at
    corpus scale). The text scan sidesteps the restriction entirely,
    keeps the raw line for the quarantine at zero extra cost. Honest
    cost note (r13 sources review): the two returned frames are
    independent plans over the same text scan — a caller that
    materializes BOTH (write good, write bad) scans and parses the
    input twice. That is the deliberate trade against .cache() (which
    cannot hold a corpus); when one pass genuinely matters, write the
    parsed frame once and split it downstream, or accept the second
    scan — the quarantine side's rows are the rare case. Blank lines
    are skipped, matching the json reader's behavior.
    """
    full = f"{schema}, {CORRUPT_COL} STRING"
    parsed = (
        spark.read.text(path)
        .filter(F.trim("value") != "")
        .select(
            "value",
            F.input_file_name().alias("src_file"),
            F.from_json(
                "value",
                full,
                {
                    "mode": "PERMISSIVE",
                    "columnNameOfCorruptRecord": CORRUPT_COL,
                },
            ).alias("_p"),
        )
    )
    good = (
        parsed.filter(F.col(f"_p.{CORRUPT_COL}").isNull())
        .select("_p.*")
        .drop(CORRUPT_COL)
    )
    bad = parsed.filter(F.col(f"_p.{CORRUPT_COL}").isNotNull()).select(
        F.col("value").alias("raw_line"), "src_file"
    )
    return good, bad


def read_orc_table(spark: SparkSession, path: str) -> DataFrame | None:
    """ORC scan with the same missing-source contract as the parquet
    reader (absent → ``None``, caller skips). ORC is Spark-native —
    same pushdown/pruning machinery as parquet (PushedFilters +
    ReadSchema reach the scan), so a lake standardized on ORC gets the
    identical plan shapes; beyond the reference's format set (the
    reference is CSV+parquet only, gluejob.py:201,226)."""
    try:
        df = spark.read.orc(path)
        df.schema  # force resolution so a missing path fails here
        return df
    except AnalysisException:
        return None
