# Deployment packaging parity with the reference (Makefile:16-18,
# Dockerfile:1-11): a cron-able `make export` and a container recipe, with
# spark-submit replacing `python ./cmd/export.py`. Same env contract:
# SRC, DST, TRACKING_DST, HOUR (default: previous UTC hour), TIMEOUT.

SPARK_HOME ?= /opt/spark
JAR        := target/scala-2.13/s3accesslogsspark_2.13-0.1.0.jar

.PHONY: help
help: ## Print the help documentation
	@grep -E '^[\/a-zA-Z0-9_-]+:.*?## .*$$' $(MAKEFILE_LIST) | sort | awk 'BEGIN {FS = ":.*?## "}; {printf "\033[36m%-30s\033[0m %s\n", $$1, $$2}'

$(JAR): $(shell find src/main -name '*.scala') build.sbt
	sbt -batch package

.PHONY: jar
jar: $(JAR) ## Build the engine jar

.PHONY: export
export: $(JAR) ## Export one hour of access logs to partitioned Parquet (env: SRC, DST, [TRACKING_DST, HOUR, TIMEOUT])
	$(SPARK_HOME)/bin/spark-submit \
	  --class graft.etl.ExportJob \
	  --master "local[$${SPARK_GRAFT_CPUS:-32}]" \
	  $(JAR)

.PHONY: test
test: ## Run the ScalaTest suite
	sbt -batch test

.PHONY: test-etl
test-etl: ## Run only the export-path specs (parse, export, write layout, local fs, compaction, streaming)
	sbt -batch "testOnly graft.functions.ParseSpec graft.etl.ExportJobSpec graft.io.LayoutSpec graft.io.LocalFsSpec graft.etl.CompactionSpec graft.etl.CompactionSwapSpec graft.streaming.StreamingSpec"

.PHONY: test-stream
test-stream: ## Run only the streaming specs (driver, streamed gates q152/q169/q256, Diag profile)
	sbt -batch "testOnly graft.streaming.StreamingSpec graft.ops.Wave14Spec graft.ops.Wave16Spec graft.ops.Wave40Spec graft.tools.DiagSpec"

.PHONY: test-pin
test-pin: ## Run only the specs over mode-pinned operators (Pin, standing views, dedup, pipeline, graph)
	sbt -batch "testOnly graft.ops.PinSpec graft.QuerySessionSpec graft.ops.OpsSpec graft.ops.ScaleOpsSpec graft.ops.Wave3Spec graft.ops.Wave11Spec graft.ops.PipelineSpec graft.ops.Wave6Spec graft.ops.Wave17Spec"

.PHONY: test-store
test-store: ## Run only the specs over the bucketed index stores (near-dup, postings, bucket swap, crash tests)
	sbt -batch "testOnly graft.ops.NearDupIndexSpec graft.ops.RetrievalSpec graft.io.LayoutSpec graft.queries.PlanSpec graft.ops.Wave16Spec graft.ops.Wave24Spec graft.ops.Wave40Spec graft.etl.CompactionSwapSpec"

.PHONY: test-functions
test-functions: ## Run only the specs over the engine SQL functions (argument contract, parse kernels, sketches, top_k)
	sbt -batch "testOnly graft.functions.FunctionContractSpec graft.functions.ParseSpec graft.QuerySessionSpec graft.functions.HyperLogLogSpec graft.functions.CountMinSketchSpec graft.ops.RollupSpec graft.ops.Wave7Spec graft.ops.Wave20Spec graft.ops.Wave24Spec graft.ops.Wave29Spec graft.ops.Wave31Spec graft.ops.Wave32Spec"

.PHONY: unreached
unreached: ## List object-level src/main defs that nothing outside src/test calls (fails on any)
	@python3 tools/unreached.py

.PHONY: parquet-columns
parquet-columns: ## Print per-column bytes, share and encodings of a Parquet tree (env: DIR)
	@test -n "$(DIR)" || { echo "usage: make parquet-columns DIR=<parquet dir>"; exit 2; }
	python3 tools/parquet_columns.py "$(DIR)"

.PHONY: verify
verify: ## Dump every declared query at sf0.01 for the DuckDB oracle compare
	sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
	python3 tools/check_correctness.py /root/testdata/sf0.01 /tmp/verify_out

.PHONY: bench
bench: ## Benchmark the declared queries (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_RUNS)
	sbt -batch "runMain graft.Bench"

.PHONY: docker-build
docker-build: $(JAR) ## Build the export container image
	docker build -t graft-export:latest .
