"""Correctness checks that run outside the timed region, with pyarrow
and DuckDB rather than Spark.

- ``check_partitions``: each listed partition directory of a lake
  table holds exactly the generator's expected ``(id, row hash)`` set,
  no row twice, and only rows whose ``created_at`` implies that
  ``company=…/{t}_year=…/{t}_month=…`` directory.
- ``check_watermarks``: the watermark file holds the expected value
  for every table: the run's t0 for a table a Scheduled run advanced.
- ``Oracle.check_query``: a query's collected rows match its DuckDB
  oracle by row count, column names and order-insensitive value
  multiset — the comparison of ``tools/check_correctness.py``.
- ``Oracle.check_group_split``: ``x_group_split`` (no oracle of its
  own) against the near-dup components its pairs oracle implies.
"""

from __future__ import annotations

import importlib.util
import json
import os

import duckdb
import pyarrow.parquet as pq

from data_ingestor_gluejob_script_spark.registry import CATALOG

from catalog import partition_dir, row_hash


def list_lake(lake_root: str) -> dict[str, tuple[int, int]]:
    """{data file path: (size, mtime_ns)} for every visible lake file."""
    out = {}
    for d, dirs, files in os.walk(lake_root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def changed_files(before: dict, after: dict) -> list[str]:
    """Files written or removed between two listings."""
    return [p for p, v in after.items() if before.get(p) != v] + [
        p for p in before if p not in after
    ]


def lake_delta(before: dict, after: dict) -> dict[str, float]:
    """What one operation wrote, from listings taken around it: bytes
    and files written, partition directories rewritten, and the bytes
    those partitions held before (what a partition-scoped merge reads)."""
    written = [p for p, v in after.items() if before.get(p) != v]
    parts = {os.path.dirname(p) for p in changed_files(before, after)}
    return {
        "bytes_written": sum(after[p][0] for p in written),
        "files_written": len(written),
        "partitions_rewritten": len(parts),
        "lake_read_bytes": sum(
            v[0] for p, v in before.items() if os.path.dirname(p) in parts
        ),
    }


def check_partitions(table: str, table_root: str, parts: set[str],
                     expected: dict[str, set]) -> list[str]:
    """Read the given partition directories of one table and compare
    each with its expected ``(id, row hash)`` set; count ids that repeat
    and rows whose ``created_at`` implies another directory. Problems
    found (empty list = correct)."""
    spec = CATALOG[table]
    problems = []
    for rel in sorted(parts):
        got: set = set()
        n = misplaced = 0
        for path in list_lake(os.path.join(table_root, rel)):
            for row in pq.read_table(path).to_pylist():
                misplaced += partition_dir(table, row) != rel
                got.add((row[spec.id_col], row_hash(table, row)))
                n += 1
        want = expected.get(rel, set())
        if n != len(got) or misplaced or got != want:
            problems.append(
                f"{table}/{rel}: {len(got)} rows vs {len(want)} expected, "
                f"{len(got - want)} unexpected, {len(want - got)} missing, "
                f"{n - len(got)} repeated, {misplaced} misplaced"
            )
    return problems


def check_watermarks(path: str, want: dict[str, str]) -> list[str]:
    with open(path) as f:
        wm = json.load(f)
    bad = {t: (wm.get(t), v) for t, v in want.items() if wm.get(t) != v}
    return [f"watermarks (found, expected): {bad}"] if bad else []


def _correctness_tool(root: str):
    """The repository's own oracle comparison, ``tools/check_correctness.py``."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB views over one query-data directory."""

    def __init__(self, root: str, data_dir: str):
        tool = _correctness_tool(root)
        self.con = duckdb.connect()
        for t in tool.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        self.to_multiset = tool.to_multiset

    def check_query(self, sql: str, cols: list[str], rows: list[tuple]) -> list[str]:
        o = self.con.execute(sql)
        o_cols = [d[0] for d in o.description]
        o_rows = o.fetchall()
        if len(rows) != len(o_rows):
            return [f"rows {len(rows)} vs oracle {len(o_rows)}"]
        if sorted(cols) != sorted(o_cols):
            return [f"cols {sorted(cols)} vs oracle {sorted(o_cols)}"]
        if self.to_multiset(cols, rows) != self.to_multiset(o_cols, o_rows):
            return ["values differ from oracle"]
        return []

    def check_group_split(self, pairs_sql: str, cols: list[str], rows: list[tuple]) -> list[str]:
        """Every document once; its split key is the minimum doc id of
        its connected component over the oracle's near-dup pairs; all
        documents of one key share one split."""
        got = [dict(zip(cols, r)) for r in rows]
        docs = [d for (d,) in self.con.execute("SELECT doc_id FROM documents").fetchall()]
        parent = {d: d for d in docs}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.con.execute(f"SELECT doc_a, doc_b FROM ({pairs_sql})").fetchall():
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        problems = []
        if sorted(r["doc_id"] for r in got) != sorted(docs):
            problems.append("documents missing or repeated")
        if any(r["split_key"] != find(r["doc_id"]) for r in got):
            problems.append("split keys differ from the near-dup components")
        splits: dict = {}
        for r in got:
            splits.setdefault(r["split_key"], set()).add(r["split"])
        if any(len(v) > 1 for v in splits.values()):
            problems.append("a near-dup group spans several splits")
        return problems
