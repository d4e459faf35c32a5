"""skew_report against its DuckDB oracle."""

from __future__ import annotations


def test_skew_report_differential(spark):
    import duckdb

    from data_ingestor_gluejob_script_spark.operators.skew import (
        SKEW_REPORT_ORACLE,
        skew_report,
    )
    from data_ingestor_gluejob_script_spark.queries._util import load

    sf = "/root/testdata/sf0.001"
    ev = load(spark, sf, "events")
    got = skew_report(ev, "event_type", k=5)
    s_rows = [tuple(r) for r in got.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
    )
    o_rows = con.execute(
        SKEW_REPORT_ORACLE.format(key="event_type", table="events", k=5)
    ).fetchall()
    assert [tuple(str(c) for c in r) for r in s_rows] == [
        tuple(str(c) for c in r) for r in o_rows
    ]
    assert abs(sum(r[2] for r in s_rows) - 1.0) < 1e-4  # 5 types cover all
