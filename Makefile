# Local gate — run before every end-of-round snapshot. `make check`
# fails if any pytest fails OR any registered query diverges from its
# DuckDB oracle (the same comparison the driver's correctness gate
# runs), so a red board can never reach the snapshot unseen again
# (round 6 shipped 8 reds a single local run would have caught).

SF_DIR ?= /root/testdata/sf0.01

.PHONY: check test test-full correctness bench trace-ingest trace-query

check: test correctness

# Default suite = the driver's gate command: pytest.ini deselects
# @pytest.mark.slow (decade/scale smokes, multi-chunk streaming e2e)
# so the run finishes inside the driver's time window (r17; the r16
# gate timed out at ~53% of the 39-minute full suite).
test:
	python -m pytest tests/ -q

# Everything, including the slow tail (-m "" clears the deselection).
test-full:
	python -m pytest tests/ -q -m ""

correctness:
	python tools/check_correctness.py $(SF_DIR)

bench:
	python bench.py

# One traced ingest run (seed 1); prints the checks' outcome, the
# extract's per-layer metrics (construct and scan shares, rows, input
# bytes per row) and the writer's (jobs, bytes and files written, write
# amplification, ...).
trace-ingest:
	python3 perfbench/run.py --workload ingest --seed 1 --seconds 25 --trace 1 \
	| tail -n 1 | python3 -c 'import json, sys; r = json.load(sys.stdin); \
	print("failed", r["failed"], "of", r["attempted"]); \
	[print(k, v["value"]) for k, v in sorted(r["metrics"].items()) \
	 if k.startswith(("pipeline.extract.", "pipeline.upsert.", "pipeline.write_amp"))]'

# One traced query run (seed 1); prints the checks' outcome and the
# per-layer metrics of q_join_3hop and x_group_split (construct and
# execute shares, jobs, shuffle and spill bytes, ...).
trace-query:
	python3 perfbench/run.py --workload query --seed 1 --seconds 25 --trace 1 \
	| tail -n 1 | python3 -c 'import json, sys; r = json.load(sys.stdin); \
	print("failed", r["failed"], "of", r["attempted"]); \
	[print(k, v["value"]) for k, v in sorted(r["metrics"].items()) \
	 if k.startswith("queries.")]'
