# Convenience targets — the driver calls bench.py / __spark_entry__
# directly; these exist for the per-round records and local iteration.

SF01  ?= /root/testdata/sf0.01
SF1   ?= /root/testdata/sf0.1

.PHONY: strict-record bench test smoke etl stream

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

# fast local check of the streaming runner: state postures, the
# foreachBatch driver and the keep-last merge, TWS restarts, the
# scratch root (fixture identity, dead-owner sweep), the oracle parity
# of the five benchmarked streaming queries and of every other
# transformWithState query, and the TWS null-parity cases
STREAM_TESTS = test_foreach_batch_upsert_keep_last test_incremental_pipeline_equals_batch \
  test_tws_user_peaks_or_env_gate test_stream_state_posture_is_read_off_the_plan_and_restored \
  test_rocksdb_state_store_matches_default_provider test_checkpoint_state_width_is_sticky \
  test_streaming_minhash_index_survives_restart \
  test_streaming_transitions_restart_equals_oneshot_and_batch \
  test_streaming_ewma_restart_equals_oneshot_and_batch \
  test_streaming_funnel_restart_equals_oneshot_and_batch
STREAM_GATES = streaming_tws_inactive_users streaming_merge_cdc streaming_stream_stream_join \
  streaming_incremental_agg streaming_session_window \
  streaming_tws_user_peaks streaming_tws_user_topk streaming_tws_type_counts \
  streaming_transition_matrix streaming_ewma_user_value streaming_funnel_regex
STREAM_NULLS = streaming_tws_type_counts streaming_transition_matrix \
  streaming_ewma_user_value streaming_funnel_regex
stream:
	python -m pytest -q -p no:cacheprovider tests/test_streaming_merge.py tests/test_scratch.py \
	  $(addprefix tests/test_streaming.py::,$(STREAM_TESTS)) \
	  "tests/test_sinks.py::test_flush_schema_mismatch_raises[upsert_batch]" \
	  $(foreach q,$(STREAM_GATES),"tests/test_oracle_parity.py::test_query_matches_oracle[$(q)]") \
	  $(foreach q,$(STREAM_NULLS),"tests/test_streaming.py::test_streaming_null_parity[$(q)]")

# fast sanity: entry() + a handful of cheap queries at sf0.001
smoke:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_BENCH_RUNS=1 \
	SPARK_GRAFT_BENCH_DETAIL=/tmp/bench_smoke.json python bench.py
