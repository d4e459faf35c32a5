"""Run the benchmark on several seeds and report each end-to-end
metric's median and spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the bound ``BENCHMARK.json`` fixes for it.

Usage, from the repository root::

    python3 perfbench/spread.py --workloads ingest query --seeds 1-10 [--records DIR]

Runs are sequential. With ``--records``, each run's full record is
written to ``DIR/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--records", help="write each run's record into this directory")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in _seeds(args.seeds):
            cmd = [sys.executable, run, "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            if args.records:
                os.makedirs(args.records, exist_ok=True)
                cmd += ["--record", os.path.join(args.records, f"{wl}-{seed}.json")]
            out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
            result = json.loads(out.strip().splitlines()[-1])
            print(wl, seed, json.dumps(result), flush=True)
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            print(f"{wl} {m['name']}: median {med:.4g} {m['unit']}, spread "
                  f"{(q3 - q1) / med:.3f} (bound {m['bound']}), n={len(v)}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
