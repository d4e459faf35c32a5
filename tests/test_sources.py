"""Source contract tests: missing CSV → None (gluejob.py:238-240),
by-name column mapping under reordered/extra columns, missing schema
column → error, the driver-read CSV header against Spark's own header
inference, the lake reader's missing-root and schema contracts, JDBC
SQL generation + watermark validation."""

from __future__ import annotations

import pytest

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from data_ingestor_gluejob_script_spark.registry import TableSpec, spec
from data_ingestor_gluejob_script_spark.sources.files import (
    _csv_header,
    read_csv_table,
    read_parquet_table,
)
from data_ingestor_gluejob_script_spark.sources.jdbc import (
    bounds_probe_sql,
    incremental_sql,
    partition_options,
    validate_watermark,
)

ORDERS = spec("retail_orders")


def _write_csv(path, header, rows, sep=";"):
    with open(path, "w") as f:
        f.write(sep.join(header) + "\n")
        for r in rows:
            f.write(sep.join(r) + "\n")


def test_missing_csv_returns_none(spark, tmp_path, count_jobs, monkeypatch):
    """A missing CSV is found by one Hadoop-FS ``exists()``: no Spark
    job, and no ``spark.read`` whose PATH_NOT_FOUND would log Java
    stack traces for an expected, handled case."""
    monkeypatch.setattr(
        SparkSession, "read", property(lambda _: pytest.fail("spark.read used"))
    )
    out, jobs = count_jobs(
        lambda: read_csv_table(spark, str(tmp_path / "nope.csv"), ORDERS)
    )
    assert out is None
    assert jobs == 0


# Each header holds ``id`` and ``status`` (row values "1" and "ok")
# among other names, written in one of the dialect's corner cases.
HEADER_CASES = {
    "reordered_extra": "extra;status;other;id\nE;ok;O;1\n",
    "quoted_name_with_sep": 'id;"a;b";status\n1;x;ok\n',
    "doubled_quote_in_name": 'id;"say ""hi""";status\n1;x;ok\n',
    "utf8_bom": "\ufeffid;status\n1;ok\n",
    "utf8_bom_quoted": '\ufeff"id";status\n1;ok\n',
    "name_quoted_across_lines": 'id;"two\nlines";status\n1;x;ok\n',
    "crlf": "status;id\r\nok;1\r\n",
    "blank_lines_first": "\n\nid;status\n1;ok\n",
    "empty_names": 'id;;status;""\n1;x;ok;y\n',
    "retail_orders_multiline": (
        ";".join(ORDERS.columns)
        + "\n"
        + ";".join(
            '"<a x=""q"">l1\nl2</a>"' if c == "checkout_order_xml"
            else {"id": "1", "status": "ok"}.get(c, f"v_{c}")
            for c in ORDERS.columns
        )
        + "\n"
    ),
}


@pytest.mark.parametrize("case", sorted(HEADER_CASES))
def test_driver_header_matches_spark_inference(spark, tmp_path, case):
    """The header the driver parses names the columns exactly as
    Spark's header inference (the reader's previous, job-launching
    path) does, and the scan bound to it positionally skips the
    header record and puts each value under its own name."""
    path = str(tmp_path / f"{case}.csv")
    with open(path, "wb") as f:
        f.write(HEADER_CASES[case].encode("utf-8"))
    oracle = (
        spark.read.options(header=True, sep=";", escape='"', multiLine=True)
        .csv(path)
        .columns
    )
    assert _csv_header(spark, path, ";") == oracle
    out = read_csv_table(spark, path, TableSpec("t", ("status", "id")))
    assert [tuple(r) for r in out.collect()] == [("ok", "1")]


def test_header_only_csv_reads_no_rows(spark, tmp_path):
    path = str(tmp_path / "retail_orders.csv")
    _write_csv(path, list(reversed(ORDERS.columns)), [])
    out = read_csv_table(spark, path, ORDERS)
    assert out.columns == list(ORDERS.columns)
    assert out.count() == 0


@pytest.mark.parametrize("dup", ["status", "STATUS"])
def test_duplicate_header_name_raises(spark, tmp_path, dup):
    """A schema column named twice (case-insensitively, like Spark)
    is an error, as under header inference, which renames each copy —
    not an ambiguous reference at the select."""
    path = str(tmp_path / "retail_orders.csv")
    _write_csv(path, list(ORDERS.columns) + [dup], [])
    with pytest.raises(ValueError, match="missing schema columns.*status"):
        read_csv_table(spark, path, ORDERS)


def test_lake_reader_contract(spark, tmp_path, count_jobs):
    """``read_parquet_table``: a missing or file-less root is ``None``
    with or without a schema. Given a schema, the read launches no job
    and partition discovery still adds the partition columns; a schema
    column the files lack reads as a typed NULL and a file column the
    schema omits is not read. Without one, the footer merge costs a
    job."""
    assert read_parquet_table(spark, str(tmp_path / "nope")) is None
    empty = tmp_path / "empty" / "company=X"
    empty.mkdir(parents=True)
    assert read_parquet_table(spark, str(empty.parent)) is None

    root = str(tmp_path / "lake")
    spark.createDataFrame(
        [("1", "x", 2024, 1)], "id string, old string, y int, m int"
    ).write.partitionBy("y", "m").parquet(root)
    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("new", T.LongType())]
    )
    assert read_parquet_table(spark, str(tmp_path / "nope"), schema) is None
    assert read_parquet_table(spark, str(empty.parent), schema) is None
    df, jobs = count_jobs(lambda: read_parquet_table(spark, root, schema))
    assert jobs == 0
    assert df.dtypes == [
        ("id", "string"), ("new", "bigint"), ("y", "int"), ("m", "int")
    ]
    assert [tuple(r) for r in df.collect()] == [("1", None, 2024, 1)]
    merged, jobs = count_jobs(lambda: read_parquet_table(spark, root))
    assert merged.columns == ["id", "old", "y", "m"]
    assert jobs == 1


def test_reordered_and_extra_columns_map_by_name(spark, tmp_path, count_jobs):
    # Header order differs from the schema and has an extra column —
    # values must land under the right names (gluejob.py:234-236
    # usecols semantics, NOT positional).
    path = str(tmp_path / "retail_orders.csv")
    header = ["status", "id", "extra_col"] + [
        c for c in ORDERS.columns if c not in ("id", "status")
    ]
    row = ["ok", "42", "IGNORED"] + [
        f"v_{c}" for c in ORDERS.columns if c not in ("id", "status")
    ]
    _write_csv(path, header, [row])
    out, jobs = count_jobs(lambda: read_csv_table(spark, path, ORDERS))
    assert jobs == 0  # the header is read on the driver
    assert out.columns == list(ORDERS.columns)
    got = out.collect()[0]
    assert got.id == "42" and got.status == "ok"
    assert "extra_col" not in out.columns


def test_missing_schema_column_raises(spark, tmp_path):
    path = str(tmp_path / "retail_orders.csv")
    _write_csv(path, ["id", "status"], [["1", "ok"]])
    with pytest.raises(ValueError, match="missing schema columns"):
        read_csv_table(spark, path, ORDERS)


def test_incremental_sql_direct_table():
    sql = incremental_sql(spec("retail_orders"), "2024-01-01 00:00:00")
    assert sql == (
        "SELECT retail_orders.* FROM retail_orders "
        "WHERE retail_orders.updated_at >= '2024-01-01 00:00:00'"
    )


def test_incremental_sql_three_hop_chain():
    # Mirrors retail_provisionings_query (gluejob.py:569-579).
    sql = incremental_sql(spec("retail_provisionings"), "2024-01-01 00:00:00")
    assert "JOIN retail_items ON retail_items.id = retail_provisionings.retail_item_id" in sql
    assert "JOIN retail_plans ON retail_plans.id = retail_items.retail_plan_id" in sql
    assert (
        "JOIN retail_subscriptions ON retail_subscriptions.id = retail_plans.retail_subscription_id"
        in sql
    )
    assert sql.endswith(
        "WHERE retail_subscriptions.updated_at >= '2024-01-01 00:00:00'"
    )
    assert sql.startswith("SELECT retail_provisionings.* ")


def test_incremental_sql_uses_anchor_wm_col_not_childs():
    """Chained tables must filter on the ANCHOR's watermark column,
    resolved from the anchor's registry entry — a chained spec whose
    own wm_col differs must not leak it into the WHERE clause (it may
    not even exist on the anchor)."""
    odd = TableSpec(
        "odd_child",
        ("id", "retail_subscription_id", "created_at", "updated_at"),
        wm_col="modified_at",  # child's own column; anchor has updated_at
        chain=(("retail_subscription_id", "retail_subscriptions", "id"),),
    )
    sql = incremental_sql(odd, "2024-01-01 00:00:00")
    assert sql.endswith(
        "WHERE retail_subscriptions.updated_at >= '2024-01-01 00:00:00'"
    )
    assert "modified_at" not in sql


def test_incremental_sql_checkout_uses_physical_source_table():
    """checkout_orders extracts from the SQL Server table
    TB_Checkout_Orders (gluejob.py:525), not the lake name."""
    sql = incremental_sql(spec("checkout_orders"), "2024-01-01 00:00:00")
    assert "FROM TB_Checkout_Orders" in sql
    assert sql.endswith(
        "WHERE TB_Checkout_Orders.DT_UpdatedAt >= '2024-01-01 00:00:00'"
    )


def test_clock_sql_aliases_survive_sparks_subquery_wrapping():
    """Spark wraps the query option as SELECT * FROM (<sql>) t; SQL
    Server rejects derived tables with unnamed columns, so both clock
    statements must alias their single column."""
    from data_ingestor_gluejob_script_spark.sources.jdbc import _CLOCK_SQL

    for sql in _CLOCK_SQL.values():
        assert " AS " in sql


def test_read_csv_multiline_quoted_fields(spark, tmp_path):
    """A quoted field with an embedded newline and doubled quotes (the
    pandas dialect the reference parses, e.g. checkout_order_xml blobs)
    must stay ONE intact record, not split into malformed rows."""
    from data_ingestor_gluejob_script_spark.registry import CATALOG
    from data_ingestor_gluejob_script_spark.sources.files import (
        read_csv_table,
    )

    orders = CATALOG["retail_orders"]
    path = str(tmp_path / "retail_orders.csv")
    xml = '<a attr=""q"">line1\nline2</a>'
    with open(path, "w") as f:
        f.write(";".join(orders.columns) + "\n")
        row = {c: f"v_{c}" for c in orders.columns}
        row["checkout_order_xml"] = f'"{xml}"'
        f.write(";".join(row[c] for c in orders.columns) + "\n")
    df = read_csv_table(spark, path, orders)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].checkout_order_xml == '<a attr="q">line1\nline2</a>'
    assert rows[0].id == "v_id"


def test_partition_options_full_quartet_as_dbtable_subquery():
    # Spark's JDBC source forbids partitionColumn alongside `query` and
    # requires all four range options together — assert the exact dict.
    sql = incremental_sql(spec("retail_orders"), "2024-01-01 00:00:00")
    opts = partition_options(sql, "id", 100, 5000, 8)
    assert opts == {
        "dbtable": f"({sql}) AS sub",
        "partitionColumn": "id",
        "lowerBound": "100",
        "upperBound": "5000",
        "numPartitions": "8",
    }
    assert "query" not in opts


def test_bounds_probe_sql_wraps_pushdown_subquery():
    sql = incremental_sql(spec("retail_orders"), "2024-01-01 00:00:00")
    probe = bounds_probe_sql(sql, "id")
    assert probe == (
        f"SELECT MIN(id) AS lo, MAX(id) AS hi FROM ({sql}) AS sub"
    )


def test_watermark_validation_rejects_injection():
    with pytest.raises(ValueError):
        validate_watermark("2024-01-01 00:00:00' OR '1'='1")
    with pytest.raises(ValueError):
        validate_watermark("; DROP TABLE retail_orders")
    assert validate_watermark("2024-01-01 00:00:00") == "2024-01-01 00:00:00"


def test_json_reader_contract(spark, tmp_path):
    import json as _json

    from data_ingestor_gluejob_script_spark.sources.files import (
        read_json_table,
    )

    # Missing file → None.
    assert read_json_table(spark, str(tmp_path / "nope.json"), ORDERS) is None

    # Extra fields dropped, values land by name, all-string coercion.
    path = str(tmp_path / "retail_orders.json")
    rec = {c: f"v_{c}" for c in ORDERS.columns} | {
        "id": 7, "extra": "IGNORED"
    }
    with open(path, "w") as f:
        f.write(_json.dumps(rec) + "\n")
    out = read_json_table(spark, path, ORDERS)
    assert out.columns == list(ORDERS.columns)
    row = out.collect()[0]
    assert row.id == "7"  # int coerced to lake string
    assert row.status == "v_status"

    # Missing schema column → error.
    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as f:
        f.write(_json.dumps({"id": "1"}) + "\n")
    with pytest.raises(ValueError, match="missing schema columns"):
        read_json_table(spark, bad, ORDERS)


def test_orc_roundtrip_and_missing(spark, tmp_path):
    """ORC write/read roundtrip preserves values and types; missing
    path honors the None contract; filters/pruning reach the ORC scan
    like parquet."""
    import io
    from contextlib import redirect_stdout

    import pyspark.sql.functions as F

    from data_ingestor_gluejob_script_spark.queries._util import load
    from data_ingestor_gluejob_script_spark.sources.files import (
        read_orc_table,
    )

    src = load(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "orders_orc")
    src.write.orc(path)

    back = read_orc_table(spark, path)
    assert back is not None
    assert back.count() == src.count()
    assert dict(back.dtypes) == dict(src.dtypes)
    s = src.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    b = back.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    assert s == b

    assert read_orc_table(spark, str(tmp_path / "nope")) is None

    buf = io.StringIO()
    with redirect_stdout(buf):
        back.select("o_orderkey").filter(
            F.col("o_custkey") == 7
        ).explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "o_custkey" in plan


def test_jsonl_quarantine_splits_good_and_bad(spark, tmp_path):
    from data_ingestor_gluejob_script_spark.sources.files import (
        read_jsonl_quarantine,
    )

    p = tmp_path / "crawl.jsonl"
    lines = [
        '{"doc_id": 1, "text": "hello world"}',
        'not json at all {{{',
        '{"doc_id": 2, "text": "second"}',
        '{"doc_id": "3", "text": ',  # truncated mid-object
        '{"doc_id": 4, "text": null}',  # valid: null field, not corrupt
    ]
    p.write_text("\n".join(lines) + "\n")

    good, bad = read_jsonl_quarantine(
        spark, str(p), "doc_id LONG, text STRING"
    )
    got_good = sorted(
        (r["doc_id"], r["text"]) for r in good.collect()
    )
    assert got_good == [(1, "hello world"), (2, "second"), (4, None)]
    got_bad = sorted(r["raw_line"] for r in bad.collect())
    assert got_bad == sorted([lines[1], lines[3]])
    assert all(
        r["src_file"].endswith("crawl.jsonl") for r in bad.collect()
    )


def test_jsonl_quarantine_all_clean_and_all_bad(spark, tmp_path):
    from data_ingestor_gluejob_script_spark.sources.files import (
        read_jsonl_quarantine,
    )

    clean = tmp_path / "clean.jsonl"
    clean.write_text('{"doc_id": 1, "text": "a"}\n')
    good, bad = read_jsonl_quarantine(
        spark, str(clean), "doc_id LONG, text STRING"
    )
    assert good.count() == 1 and bad.count() == 0

    broken = tmp_path / "broken.jsonl"
    broken.write_text("garbage\nmore garbage\n")
    good, bad = read_jsonl_quarantine(
        spark, str(broken), "doc_id LONG, text STRING"
    )
    assert good.count() == 0 and bad.count() == 2
