"""Benchmark of the ingestion job and the query inventory.

Usage, from the repository root::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 25 --trace 0

Workloads (see ``workloads.py`` and ``METRICS.md``): ``ingest`` and
``query``. A run makes its inputs from ``--seed``, sets the session up
once (``get_spark``, the workload's warm-up, then its ``WARM_CYCLES``
untimed cycles), runs timed cycles (at least its ``MIN_CYCLES``, and as
many as start within ``--seconds``), checks every cycle's output
outside the timed region, and prints one JSON object as its last
stdout line:

- ``--trace 0``: the end-to-end metrics of ``BENCHMARK.json``: the
  median CPU time of a timed cycle with the JIT compiler's left out
  (``cycle_cpu_s``), and the set-up time (``setup_s``);
- ``--trace 1``: its per-layer metrics. Plain cycles interleave with
  traced ones, which make the flow's layer calls one by one inside
  spans. Spark's event log (enabled only in this mode) gives each
  span's jobs and task metrics.

A full run record (host, load, seed, input sizes, ``SPARK_GRAFT_*``
settings, every sample) is printed on the line before the result and
written to ``--record`` when given. Everything the run writes lives
under ``.perfbench_work/`` in the current directory and is removed at
the end.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def _env(work: str) -> dict[str, str]:
    """Keep every temporary file of Python, Spark and the JVM in the
    run's own directory; returns the Spark settings that do the same."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    # compiler threads stay alive, so /proc always shows their CPU time
    java = (f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["SPARK_LAUNCHER_OPTS"] = java
    return {
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": java,
        "spark.eventLog.dir": "file://" + dirs["events"],
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def _host() -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg": os.getloadavg(),
        "spark_graft_env": {
            k: v.replace(ROOT + os.sep, "") for k, v in os.environ.items()
            if k.startswith("SPARK_GRAFT_")
        },
    }


# the JIT compiler's threads, by the name Linux shows (15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _proc_cpu_s(stat_path: str) -> tuple[int, int, float] | None:
    """(pid, ppid, CPU seconds, reaped children included) from a
    /proc stat file, or None if the task is gone."""
    try:
        with open(stat_path) as f:
            head, fields = f.read().rsplit(")", 1)
    except OSError:
        return None
    fields = fields.split()
    ticks = sum(int(x) for x in fields[11:15])
    return int(head.split(" (", 1)[0]), int(fields[1]), ticks / os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """CPU seconds used so far by this Python process and the JVM's
    process tree (its Python workers included, live or reaped), and
    the part of them the JVM's JIT compiler threads used."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _proc_cpu_s(f"/proc/{d}/stat")):
            procs[st[0]] = st
    tree = {root_pid}
    for _ in range(8):  # the tree is a few levels deep
        tree |= {p for p, (_, ppid, _) in procs.items() if ppid in tree}
    total = sum(procs[p][2] for p in tree if p in procs) + time.process_time()
    jit = 0.0
    for p in tree:
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/comm") as f:
                    if f.read().strip() not in JIT_THREADS:
                        continue
            except OSError:
                continue
            if st := _proc_cpu_s(f"/proc/{p}/task/{tid}/stat"):
                jit += st[2]
    return total, jit


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _layers(summary, n_cycles, traced_s, facts) -> dict:
    """Per-layer metrics from the traced cycles: self-time shares of
    the traced cycles' wall time, and counts per cycle."""
    def g(span, key):
        return summary.get(span, {}).get(key, 0.0)

    def pct(span):
        return 100 * g(span, "self_s") / traced_s if traced_s else 0.0

    def per_cycle(span, key):
        return g(span, key) / n_cycles if n_cycles else 0.0

    m = {
        "pipeline.extract.construct_pct": pct("pipeline.extract"),
        "pipeline.extract.scan_pct": pct("pipeline.extract.scan"),
        "pipeline.extract.rows_out": per_cycle("pipeline.extract.scan", "rows_out"),
        "pipeline.extract.input_bytes_per_row": (
            g("pipeline.extract.scan", "input_bytes") / g("pipeline.extract.scan", "rows_out")
            if g("pipeline.extract.scan", "rows_out") else 0.0
        ),
        "pipeline.upsert.self_pct": pct("pipeline.upsert"),
        "pipeline.upsert.task_skew": g("pipeline.upsert", "task_skew"),
        "watermarks.commit_pct": pct("watermarks.commit"),
    }
    amps = [f["write_amp"] for f in facts if "write_amp" in f]
    m["pipeline.write_amp"] = statistics.median(amps) if amps else 0.0
    for k in ("jobs", "shuffle_write_bytes", "lake_read_bytes", "bytes_written",
              "files_written", "partitions_rewritten", "spill_bytes"):
        m[f"pipeline.upsert.{k}"] = per_cycle("pipeline.upsert", k)
    from workloads import Query

    for name in Query.CORE + Query.VECTOR:
        layer = Query.layer(name)
        m[f"{layer}.construct_pct"] = pct(f"{layer}.construct")
        m[f"{layer}.construct_jobs"] = per_cycle(f"{layer}.construct", "jobs")
        m[f"{layer}.execute_pct"] = pct(f"{layer}.execute")
        if name in Query.VECTOR:
            m[f"{layer}.execute_jobs"] = per_cycle(f"{layer}.execute", "jobs")
            continue
        m[f"{layer}.shuffle_bytes"] = per_cycle(f"{layer}.execute", "shuffle_write_bytes")
        m[f"{layer}.spill_bytes"] = per_cycle(f"{layer}.execute", "spill_bytes")
        run_s = g(f"{layer}.execute", "run_s")
        m[f"{layer}.gc_pct"] = 100 * g(f"{layer}.execute", "gc_s") / run_s if run_s else 0.0
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the run record to this file")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = _env(work)
    conf["spark.eventLog.enabled"] = "true" if args.trace else "false"
    sys.path[:0] = [ROOT, HERE]
    try:
        from data_ingestor_gluejob_script_spark.session import get_spark
        from spans import Tracer, read_event_log, summarize
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host_start": _host()}
    wl = WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    record["inputs"] = wl.prepare()
    record["generate_s"] = time.perf_counter() - t

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        record["get_spark_s"] = time.perf_counter() - t
        tracer = Tracer(spark, f"{args.workload}-{args.seed}", enabled=False)
        jvm = spark.sparkContext._gateway.proc.pid
        problems = []

        checking = [0.0]  # seconds spent in the benchmark's own checks

        def check(fn, *a):
            c = time.perf_counter()
            try:
                return fn(*a)
            finally:
                checking[0] += time.perf_counter() - c

        def cycle() -> dict:
            """One cycle, timed, then checked outside the timing. Its CPU
            time leaves the JIT compiler's out (``jit_cpu_s``)."""
            (c0, j0), t = _tree_cpu_s(jvm), time.perf_counter()
            try:
                try:
                    with tracer.span("cycle"):
                        wl.run_cycle(spark, tracer)
                finally:
                    dt, (c1, j1) = time.perf_counter() - t, _tree_cpu_s(jvm)
                bad, fact = check(wl.check_cycle)
            except Exception as e:  # noqa: BLE001 - a cycle that raises counts as failed
                bad, fact = [f"{type(e).__name__}: {e}"[:500]], {}
            if bad:
                problems.append(bad[:5])
            return {"s": dt, "cpu_s": (c1 - c0) - (j1 - j0), "jit_cpu_s": j1 - j0,
                    "traced": tracer.enabled, **fact}

        check(wl.check_warm, wl.warm(spark))
        warmup = [cycle() for _ in range(wl.WARM_CYCLES)]
        # set-up is the program's time: the checks made during it are not
        record["setup_checks_s"] = checking[0]
        record["setup_s"] = time.perf_counter() - t - checking[0]
        record["process_to_ready_s"] = time.perf_counter() - T_START

        timed = []
        deadline = time.perf_counter() + args.seconds
        while len(timed) < wl.MIN_CYCLES or time.perf_counter() < deadline:
            # trace mode interleaves plain and traced cycles as P T T P …,
            # so the JIT still warming up over a run favours neither kind
            tracer.enabled = bool(args.trace) and len(timed) % 4 in (1, 2)
            timed.append(cycle())
        plain = [f for f in timed if not f["traced"]]
        traced = [f["s"] for f in timed if f["traced"]]
        attempted, failed = len(warmup) + len(timed), len(problems)
        checked, bad = wl.finish()
        attempted += checked
        failed += len(bad)
        problems += bad
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            _stop(spark)

    record.update(warmup_cycles=warmup, cycles=timed, problems=problems, host_end=_host())
    if args.trace:
        spans = [s for s in tracer.spans if "end" in s]
        summary = summarize(spans, read_event_log(conf["spark.eventLog.dir"][7:], app_id))
        metrics = _layers(summary, len(traced), sum(traced), timed)
        metrics["session.get_spark_s"] = record["get_spark_s"]
        metrics["trace.cycle_s"] = statistics.median(traced)
        metrics["cycle.wall_s"] = statistics.median(f["s"] for f in plain)
        metrics["cycle.jit_cpu_s"] = statistics.median(f["jit_cpu_s"] for f in plain)
        record["overhead_pct"] = 100 * (metrics["trace.cycle_s"] / metrics["cycle.wall_s"] - 1)
        record["layers"] = summary
    else:
        metrics = {"cycle_cpu_s": statistics.median(f["cpu_s"] for f in plain),
                   "setup_s": record["setup_s"]}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    record["result"] = result
    if args.record:
        with open(args.record, "w") as f:
            json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print("perfbench-record " + json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
