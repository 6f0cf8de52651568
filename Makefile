# Quality gates for the maup_spark engine.  MUST run from the repo root
# (Spark workers import maup_spark from the driver cwd).

.PHONY: gate test audit bench perfbench

# The pre-snapshot gate (judge r4 task 10): every registered driver
# query vs its DuckDB oracle at BOTH parallelisms — local[8] and the
# local[2] order-independence probe.  ~15-20 min on a quiet machine.
gate:
	python scripts/correctness_replica.py ALL
	REPLICA_MASTER=local[2] python scripts/correctness_replica.py ALL

test:
	python -m pytest tests/ -x -q

audit:
	python scripts/explain_audit.py

bench:
	python bench.py

# The seeded end-to-end benchmark (BENCHMARK.json): one fresh-JVM run of
# each workload, which exits non-zero when any output fails its check,
# plus the event-log parser test that tests/ does not collect.
perfbench:
	python3 perfbench/run.py --workload points_assign --seed 1 --seconds 16
	python3 perfbench/run.py --workload polygon_overlay --seed 1 --seconds 16
	python -m pytest perfbench/test_eventlog.py -q
