# pyspark-metrics-engine Makefile — the one-command runner the reference
# ships (reference Makefile:23-40 / scripts/run_tests.sh), minus the
# docker/ClickHouse targets Spark makes unnecessary.

.PHONY: help test test-unit test-full test-oracle test-oracle-types test-streaming perfbench-test bench scale-probe build-indexes demo-ingest loadgen serve clean

SF_DIR ?= /root/testdata/sf0.01

help: ## Show this help message
	@echo 'Usage: make [target]'
	@echo ''
	@echo 'Targets:'
	@awk 'BEGIN {FS = ":.*?## "} /^[a-zA-Z_-]+:.*?## / {printf "  %-15s %s\n", $$1, $$2}' $(MAKEFILE_LIST)

test: test-unit test-oracle ## Default gate: fast pytest tier + oracle parity (~25 min)

test-unit: ## Fast pytest tier (excludes @slow streaming e2e; ~15 min)
	python -m pytest tests/ -x -q -m "not slow"

test-full: ## FULL pytest suite incl. @slow streaming e2e (nightly / pre-artifact)
	python -m pytest tests/ -x -q -m "slow or not slow"

test-oracle: ## DuckDB oracle parity for every catalog query (sf0.01; starts with the HUGEINT type audit)
	python tools/check_oracle.py $(SF_DIR)

test-oracle-types: ## Fast oracle output-type audit only (rejects HUGEINT columns; no Spark)
	python tools/check_oracle.py $(SF_DIR) --types-only

test-streaming: ## Streaming pipeline + OTLP ingest e2e only (the @slow tier)
	python -m pytest tests/test_streaming.py tests/test_otlp_ingest_e2e.py tests/test_pipeline_e2e.py -x -q -m "slow or not slow"

perfbench-test: ## The repo benchmark's own tests (perfbench/)
	python3 -m pytest perfbench -q -p no:cacheprovider

bench: ## Headline benchmark at sf0.1 (one JSON line on stdout)
	python bench.py

scale-probe: ## Throughput scaling at 1x/4x/16x sf0.1 (JSON lines)
	python tools/scale_probe.py

build-indexes: ## Materialize every stored index (ingest-time job) to $$SPARK_GRAFT_INDEX_DIR
	python tools/build_indexes.py

demo-ingest: ## OTLP-JSON drop-dir -> parquet demo (drains /tmp/otlp-drop)
	python scripts/otlp_json_ingest.py /tmp/otlp-drop /tmp/otlp-out /tmp/otlp-ckpt --drain

loadgen: ## S9 load generator: 100 deterministic OTLP/JSON export requests into /tmp/otlp-drop
	python tools/loadgen.py --drop-dir /tmp/otlp-drop --ticks 100

serve: ## Full app: OTLP/HTTP receiver + streaming ingest + Remote Read endpoint
	python scripts/serve.py

clean: ## Remove local run artifacts
	rm -rf /tmp/otlp-out /tmp/otlp-ckpt spark-warehouse .pytest_cache .perfbench_work
