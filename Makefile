# Verification targets (mirrors .claude/skills/verify/SKILL.md).
# The oracle corpus is verified at BOTH sf0.01 (the driver's gate SF)
# and sf0.1 (the bench SF); VERIFICATION.md records the latest results.

.PHONY: test test-all oracle oracle-sf01 bench bench-compare perfbench verify

# Default profile: slow-marked E2E/property/audit tests deselected
# (pytest.ini addopts) so a time-budgeted run finishes with a verdict.
test:
	python -m pytest tests/ -x -q

# The builder's full gate: everything, including slow-marked tests.
test-all:
	python -m pytest tests/ -x -q -m "slow or not slow"

oracle:
	python -m c_tran_data_pipeline_spark.oracle

# adds the external-comparator dtype checks (float-vs-int, list columns)
oracle-typed:
	python -m c_tran_data_pipeline_spark.oracle --typed

oracle-sf01:
	SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.1 python -m c_tran_data_pipeline_spark.oracle

bench:
	python bench.py

# Round-over-round bench adjudication (VERDICT r8 #4): classify every
# common query of the newest committed BENCH_DETAIL_r*.json vs the
# fresh BENCH_DETAIL.json in calibrated fixed-work units (1.5x
# threshold). Exits nonzero iff any query is REGRESSED, so an
# unadjudicated slowdown gates the round mechanically; the per-round
# classification is committed as BENCH_COMPARE_r{N}.json.
bench-compare:
	python scripts/bench_compare.py `ls BENCH_DETAIL_r*.json | sort | tail -1` BENCH_DETAIL.json

# Self-tests of the repository benchmark (perfbench/README.md): seeded
# generator bytes, digest canonicalization, metric names and agreement
# of BENCHMARK.json with the runner. Five tests, a few seconds.
perfbench:
	python3 -m pytest perfbench -q -p no:cacheprovider

verify: test perfbench oracle oracle-sf01 bench bench-compare
