"""The benchmark's workloads. Each one:

- ``prepare()`` makes its inputs from the seed (the benchmark's own
  work, outside every timing);
- ``warm(spark)`` is the warm-up that ends a set-up, and
  ``check_warm(results)`` checks what it returned (untimed);
- ``run_cycle(spark, tracer)`` is one timed cycle; with the tracer
  enabled it makes the flow's layer calls one by one, each in a span,
  in the order the flow makes them;
- ``check_cycle()`` checks that cycle's outputs (untimed) and returns
  (problems, facts);
- ``finish()`` returns the end-of-run checks as (checked, problems).

``WARM_CYCLES`` untimed cycles end a set-up (after ``warm``): the first
cycle of a process is compile-bound (class loading, whole-stage
codegen, an interpreted JVM), several times slower than the ones after
it. Cycles keep getting cheaper for about a minute after that, as the
JIT compiles more of the driver's code, so a run times its cycles over
the whole ``--seconds`` window, at least ``MIN_CYCLES`` of them (about
what the window holds on a 4-core host), and reports their median CPU
time. The counts are set so that one run fits the benchmark's time
budget.
"""

from __future__ import annotations

import os
import shutil
from datetime import timedelta

from pyspark.sql import Observation
from pyspark.sql import functions as F

from data_ingestor_gluejob_script_spark import pipeline
from data_ingestor_gluejob_script_spark.pipeline import LocalFileSource, write_partitioned_upsert
from data_ingestor_gluejob_script_spark.queries import ORACLES, QUERIES
from data_ingestor_gluejob_script_spark.queries.extras import extras
from data_ingestor_gluejob_script_spark.registry import CATALOG, tables_list
from data_ingestor_gluejob_script_spark.watermarks import WATERMARK_FORMAT, WatermarkStore

import checks
import querydata
from catalog import D0, TABLES, Catalog, csv_bytes

ROOT = os.getcwd()
COMPANY = "Locaweb"
D0_WM = D0.strftime(WATERMARK_FORMAT)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ingest:
    """One day of the reference job on a lake that holds the catalog's
    8 tables as an initial load left them (written without Spark from
    the seed): the Scheduled ``pipeline.run`` of retail_provisionings —
    the end of the longest watermark chain, items → plans →
    subscriptions — over the day's full CSV snapshot: chain extract,
    touched-partition collect, partition-scoped lake read, broadcast
    merge, dynamic overwrite, watermark commit. Every cycle runs the
    same day on the lake and watermarks restored to their loaded
    state."""

    N_SUBS = 4000
    WARM_CYCLES = 2
    MIN_CYCLES = 6
    MONTHS = 36
    DAY_TABLE = "retail_provisionings"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.base = os.path.join(work, "base_lake")
        self.base_wm = os.path.join(work, "base_wm.json")
        self.lake = os.path.join(work, "lake")
        self.wm = os.path.join(work, "wm.json")

    def prepare(self) -> dict:
        cat = Catalog(self.seed, self.N_SUBS, self.MONTHS)
        initial, day = cat.initial, cat.day
        Catalog.write_lake(self.base, initial)
        # what the OnDemand load commits: every table at the default
        # watermark (midnight of the drop day)
        WatermarkStore(self.base_wm, TABLES, now=D0 + timedelta(days=1)).commit()
        shutil.copytree(self.base, self.lake)
        self._restore(())
        self.snapshot = os.path.join(self.work, "day1")
        Catalog.write_drop(self.snapshot, day["snapshot"])
        self.clock = day["clock"]
        # the lake after the day: the Scheduled table at its snapshot
        # state, every other table as loaded; the partitions whose rows
        # differ from the loaded lake's are the ones the day must rewrite
        new = day["snapshot"][self.DAY_TABLE]
        self.final = {**initial, self.DAY_TABLE: new}
        self._expected: dict[str, dict[str, set]] = {}
        want = self.expected(self.DAY_TABLE)
        loaded = Catalog.expected_hashes({self.DAY_TABLE: initial[self.DAY_TABLE]})
        loaded = loaded[self.DAY_TABLE]
        self.must_change = {
            (self.DAY_TABLE, rel) for rel in set(want) | set(loaded)
            if want.get(rel) != loaded.get(rel)
        }
        old = initial[self.DAY_TABLE]
        changed = [r for i, r in sorted(new.items()) if old.get(i) != r]
        self.day_bytes = len(csv_bytes(self.DAY_TABLE, changed)) - len(
            csv_bytes(self.DAY_TABLE, [])
        )
        self.watermarks = {**dict.fromkeys(TABLES, D0_WM),
                           self.DAY_TABLE: self.clock.strftime(WATERMARK_FORMAT)}
        return {
            "subscriptions": self.N_SUBS,
            "months": self.MONTHS,
            "lake_rows": sum(len(r) for r in initial.values()),
            "lake_files": len(self.before),
            "snapshot_rows": sum(len(r) for r in day["snapshot"].values()),
            "day_changed_rows": len(changed),
            "day_changed_source_bytes": self.day_bytes,
            "day_partitions": len(self.must_change),
        }

    def expected(self, table: str) -> dict[str, set]:
        """The table's expected ``(id, row hash)`` sets by partition
        after the day, hashed on first use."""
        if table not in self._expected:
            self._expected[table] = Catalog.expected_hashes({table: self.final[table]})[table]
        return self._expected[table]

    def _restore(self, tables) -> None:
        """Put the given tables and the watermark file back to their
        loaded state."""
        for t in tables:
            shutil.rmtree(pipeline.lake_table_root(self.lake, t), ignore_errors=True)
            shutil.copytree(pipeline.lake_table_root(self.base, t),
                            pipeline.lake_table_root(self.lake, t))
        shutil.copyfile(self.base_wm, self.wm)
        self.before = checks.list_lake(self.lake)

    def warm(self, spark) -> None:
        """Nothing beyond the harness's untimed warm-up cycles."""

    def check_warm(self, results) -> None:
        """Nothing to check."""

    def run_cycle(self, spark, tracer) -> None:
        store = WatermarkStore(self.wm, TABLES, now=self.clock)
        source = LocalFileSource(self.snapshot, clock=self.clock)
        if not tracer.enabled:
            pipeline.run(spark, "Scheduled", self.DAY_TABLE, self.lake, store, source=source)
            return
        t0 = source.clock(spark)
        for t in tables_list(self.DAY_TABLE):
            spec = CATALOG[t]
            with tracer.span("pipeline.extract"):
                df = source.read_table(spark, spec, store.get(t))
            obs = Observation(f"rows_{t}")
            with tracer.span("pipeline.extract.scan") as a:
                _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
            a["rows_out"] = obs.get["n"]
            root = pipeline.lake_table_root(self.lake, t)
            before = checks.list_lake(root)
            with tracer.span("pipeline.upsert") as a:
                write_partitioned_upsert(spark, df, spec, self.lake, COMPANY, broadcast_batch=True)
            a.update(checks.lake_delta(before, checks.list_lake(root)))
            store.advance(t, t0)
        with tracer.span("watermarks.commit"):
            store.commit()

    def check_cycle(self) -> tuple[list, dict]:
        """Check the day's lake and watermarks, then restore both for
        the next cycle. Only the partitions the day rewrote are read:
        every other file still has the size and mtime it was restored
        with, so it holds the loaded rows, and the day must leave those
        unchanged everywhere outside ``must_change``."""
        after = checks.list_lake(self.lake)
        delta = checks.lake_delta(self.before, after)
        problems = []
        touched: dict[str, set] = {}
        for p in checks.changed_files(self.before, after):
            # raw/locaweb/{t}/company=…/{t}_year=…/{t}_month=…
            parts = os.path.relpath(os.path.dirname(p), self.lake).split(os.sep)
            if len(parts) != 6:
                problems.append(f"a file outside the partition layout: {p}")
                continue
            touched.setdefault(parts[2], set()).add(os.path.join(*parts[3:]))
        missed = self.must_change - {(t, rel) for t, rels in touched.items() for rel in rels}
        if missed:
            problems.append(f"{len(missed)} partitions the day changes were not rewritten")
        for t, rels in touched.items():
            problems += checks.check_partitions(
                t, pipeline.lake_table_root(self.lake, t), rels, self.expected(t))
        problems += checks.check_watermarks(self.wm, self.watermarks)
        self._restore(touched)
        return problems, {"write_amp": delta["bytes_written"] / self.day_bytes, **delta}

    def finish(self) -> tuple[int, list]:
        return 0, []


class Query:
    """Warm passes over two entries of the query inventory, each
    constructed, then executed into a ``noop`` sink (the write plans
    it): the declared flagship ``q_join_3hop`` (the 3-hop join chain,
    the deepest lineage in the reference), and the vector entry
    ``x_group_split``, whose builder runs Spark jobs eagerly (simhash
    near-dup pairs, then connected components). The warm-up pass
    collects every result, and the results are checked."""

    WARM_CYCLES = 0
    MIN_CYCLES = 8
    CORE = ("q_join_3hop",)
    VECTOR = ("x_group_split",)
    # the row counts of the sf0.01 test data: 60,000 lineitems, 500
    # documents (see querydata)
    SCALE = 1.0

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        ex = extras()
        self.fns = {n: QUERIES[n] for n in self.CORE}
        self.fns.update({n: ex[n] for n in self.VECTOR})
        self.problems: list[str] = []

    @staticmethod
    def layer(name: str) -> str:
        if name.startswith("x_"):
            return f"queries.{name}"
        return f"queries.{QUERIES[name].__module__.rsplit('.', 1)[-1]}"

    def prepare(self) -> dict:
        self.data = os.path.join(self.work, "qdata")
        rows = querydata.generate(self.data, self.seed, self.SCALE)
        return {"scale": self.SCALE, "rows": rows, "queries": list(self.fns)}

    def warm(self, spark) -> dict:
        """The cold pass: collect every query's result."""
        results = {}
        for name, fn in self.fns.items():
            try:
                df = fn(spark, self.data)
                results[name] = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:  # noqa: BLE001 - a query that raises counts as failed
                self.problems.append(f"{name}: {type(e).__name__}: {e}"[:500])
        return results

    def check_warm(self, results) -> None:
        """Check the cold pass's results (untimed): declared queries
        against their DuckDB oracle, ``x_group_split`` against the split
        keys its near-dup oracle implies."""
        oracle = checks.Oracle(ROOT, self.data)
        for name, (cols, rows) in results.items():
            if name in ORACLES:
                bad = oracle.check_query(ORACLES[name], cols, rows)
            else:
                bad = oracle.check_group_split(ORACLES["q_simhash_neardup_pairs"], cols, rows)
            self.problems += [f"{name}: {p}" for p in bad]

    def run_cycle(self, spark, tracer) -> None:
        for name, fn in self.fns.items():
            layer = self.layer(name)
            with tracer.span(f"{layer}.construct"):
                df = fn(spark, self.data)
            # the write plans the query itself: execute includes planning
            with tracer.span(f"{layer}.execute"):
                _noop(df)

    def check_cycle(self) -> tuple[list, dict]:
        return [], {}

    def finish(self) -> tuple[int, list]:
        return len(self.fns), self.problems


WORKLOADS = {"ingest": Ingest, "query": Query}
