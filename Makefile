# CI-equivalent targets for the etl_stack_spark engine.

.PHONY: test test-fast bench self-report all

# the default tier (pytest.ini deselects `slow`), single-process (~18 min
# on 4 cores; kept for bisecting — the documented GATE, test-fast below,
# runs both tiers)
test:
	python -m pytest tests/ -q

# THE GATE (promoted round 7, VERDICT r6 task 3): both tiers in
# cost-balanced process groups (own JVM each, no pytest-xdist in this
# container) — same tests, zero removals, ~max(group) wall time.
# Group membership lives in tools/gate_groups.json (the last group is
# the catch-all: a new test file can never silently escape the gate).
# Bar: 600s/group; when a `--durations` run shows max(group) > 550s,
# regenerate with:
#   python tools/run_gate.py --durations && python tools/rebalance_gate.py
# (VERDICT r8 task 8 — rebalanced r9: projected max 464s/4 groups.)
test-fast:
	python tools/run_gate.py

# the benchmark (BENCHMARK.json): one 16 s run of each workload at seed 1;
# each prints an info line and a JSON result line
bench:
	python3 perfbench/run.py --workload ingest_sync --seed 1 --seconds 16
	python3 perfbench/run.py --workload rag_query --seed 1 --seconds 16

# regenerate ORACLE_SELF_REPORT.json: every registered query vs its
# DuckDB oracle at sf0.01 (driver-gate replica, value hashes included)
self-report:
	python oracle_self_report.py

# same audit at 10x the driver's gate scale → ORACLE_SELF_REPORT_SF01.json
self-report-sf01:
	python oracle_self_report.py --sf=/root/testdata/sf0.1 --out=ORACLE_SELF_REPORT_SF01.json

all: test self-report bench
