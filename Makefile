# Convenience targets — the driver calls bench.py / __spark_entry__
# directly; these exist for the per-round records and local iteration.

SF01  ?= /root/testdata/sf0.01
SF1   ?= /root/testdata/sf0.1

.PHONY: strict-record bench test smoke etl

# Full-registry bit-exact sweeps at both gate scales; paste the two
# N/N lines into README's "standing record" each round.
strict-record:
	python -m tests.strict_compare $(SF01)
	python -m tests.strict_compare $(SF1)

bench:
	python bench.py

test:
	python -m pytest tests/ -q

# fast local check of the ETL cycle: dim lookups, wide fact, flush
etl:
	python -m pytest -q -p no:cacheprovider tests/test_sinks.py \
	  tests/test_pipeline_reference.py tests/test_pipeline_differential.py \
	  tests/test_plan_shapes.py::test_pipeline_e2e_no_cartesian_no_nested_loop \
	  "tests/test_oracle_parity.py::test_query_matches_oracle[pipeline_e2e]" \
	  "tests/test_oracle_parity.py::test_query_matches_oracle[broadcast_enrich_defaults]"

# fast sanity: entry() + a handful of cheap queries at sf0.001
smoke:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_BENCH_RUNS=1 \
	SPARK_GRAFT_BENCH_DETAIL=/tmp/bench_smoke.json python bench.py
