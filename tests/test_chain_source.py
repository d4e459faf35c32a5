"""LocalFileSource chain walk for the deepest incremental path:
retail_provisionings → items → plans → subscriptions (the reference's
retail_provisionings_query, gluejob.py:569-579)."""

from __future__ import annotations

import os
from datetime import datetime

from data_ingestor_gluejob_script_spark.pipeline import LocalFileSource
from data_ingestor_gluejob_script_spark.registry import CATALOG

WM = "2024-02-01 00:00:00"


def _write(dirpath, spec, rows):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, f"{spec.name}.csv"), "w") as f:
        f.write(";".join(spec.columns) + "\n")
        for r in rows:
            full = {c: f"x_{c}" for c in spec.columns} | r
            f.write(";".join(full[c] for c in spec.columns) + "\n")


def test_three_hop_chain_filters_by_anchor(spark, tmp_path, count_jobs):
    src = str(tmp_path / "src")
    subs = CATALOG["retail_subscriptions"]
    plans = CATALOG["retail_plans"]
    items = CATALOG["retail_items"]
    prov = CATALOG["retail_provisionings"]

    # s_new qualifies (updated past WM), s_old does not.
    _write(src, subs, [
        {"id": "s_new", "updated_at": "2024-02-15 10:00:00"},
        {"id": "s_old", "updated_at": "2024-01-01 10:00:00"},
    ])
    _write(src, plans, [
        {"id": "pl1", "retail_subscription_id": "s_new"},
        {"id": "pl2", "retail_subscription_id": "s_old"},
    ])
    _write(src, items, [
        {"id": "it1", "retail_plan_id": "pl1"},
        {"id": "it2", "retail_plan_id": "pl2"},
        {"id": "it3", "retail_plan_id": "pl1"},
    ])
    _write(src, prov, [
        {"id": "pr1", "retail_item_id": "it1"},   # → s_new: kept
        {"id": "pr2", "retail_item_id": "it2"},   # → s_old: dropped
        {"id": "pr3", "retail_item_id": "it3"},   # → s_new: kept
        {"id": "pr4", "retail_item_id": "ghost"}, # dangling FK: dropped
    ])

    source = LocalFileSource(src, clock=datetime(2024, 3, 1))
    # four CSVs, no schema-discovery job: headers are read on the driver
    got, jobs = count_jobs(lambda: source.read_table(spark, prov, WM))
    assert jobs == 0
    assert {r.id for r in got.collect()} == {"pr1", "pr3"}
    assert got.columns == list(prov.columns)  # child.* projection only


def test_chain_missing_parent_returns_none(spark, tmp_path):
    src = str(tmp_path / "src2")
    prov = CATALOG["retail_provisionings"]
    _write(src, prov, [{"id": "pr1", "retail_item_id": "it1"}])
    # items/plans/subscriptions files absent → skip contract.
    source = LocalFileSource(src, clock=datetime(2024, 3, 1))
    assert source.read_table(spark, prov, WM) is None
