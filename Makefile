# Developer entry points (mirrors the reference repo's Makefile role).

.PHONY: test test-fast parity parity-all parity-sf01 parity-hostile bench smoke \
        fetch-grid ulp-canary close scale-data scale-curve parity-scale \
        perfbench ingest-bench

fetch-grid:      ## best-effort: pull the real LINZ NTv2 grid when network exists
	-python tools/fetch_linz_grid.py
	# on success the grid lands in data/ and the real-grid tolerance
	# test auto-unskips (tests pick up data/ntv2_tolerance_report.json);
	# without network this is a no-op failure, ignored by the leading -

close: fetch-grid ulp-canary parity-all parity-hostile parity-sf01 test bench  ## full round-close gate sequence

ulp-canary:      ## interpolated-percentile allowlist + engine bit-parity probe
	python tools/ulp_canary.py ULP_CANARY.json

test:            ## full suite, no -x: the Tier-1 gate of ROADMAP.md
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q \
	  --continue-on-collection-errors -p no:cacheprovider

test-fast:       ## quick signal: catalog + loaders + plan shapes + the paper's own job + streams + the clip's kernels
	python -m pytest tests/test_catalog.py tests/test_loader_schema.py \
	  tests/test_plan_shapes.py tests/test_raster.py tests/test_cli.py \
	  tests/test_sinks.py tests/test_streaming.py \
	  tests/test_geometry_property.py -q

parity:          ## driver-style oracle gate at sf0.01 (what the driver runs)
	GEOETL_TEST_SF_DIR=/root/testdata/sf0.01 \
	  python -m pytest tests/test_oracle_parity.py -q

parity-all:      ## every catalog query vs DuckDB -> PARITY_ALL.json
	python tools/parity_all.py /root/testdata/sf0.01 PARITY_ALL.json

parity-sf01:     ## 10x scale-drift sweep -> PARITY_SF01.json
	python tools/parity_sf01.py PARITY_SF01.json

parity-hostile:  ## NULL/malformed-row + zero-row sweep -> HOSTILE_PARITY.json
	python tools/hostile_sweep.py HOSTILE_PARITY.json

scale-data:      ## seed-deterministic sf0.1/0.3/1 clones -> .scaledata/
	python tools/gen_scale_data.py 0.1
	python tools/gen_scale_data.py 0.3
	python tools/gen_scale_data.py 1.0

scale-curve:     ## per-query scaling exponents over the clones (r12)
	python tools/scale_curve.py --out SCALE_CURVE_r12.json

# sf1-only oracle exclusions, re-profiled r11 (every candidate
# measured with a per-query kill cap at the sf1 clone): the ROOT CAUSE
# for the whole dedup/graph family is DuckDB's minhash-signature
# inventory — the bare lsh_pairs CTE alone costs 422 s at sf1 (the
# engine computes the same signatures in seconds), so NO oracle that
# composes it can fit the 90 s standard budget, and no sampled variant
# can either.  r11 therefore splits the sweep into two lanes:
# * SLOW LANE (removed from this exclude list): q125/q142/q216/q269/
#   q270 — their downstream beyond lsh_pairs is trivial (pagerank /
#   two-hop / triangles / assortativity over the 555 sf1 edges).  r11
#   ran each at ~430-460 s (every oracle re-paying the 422 s shared
#   CTE); r12 materializes the EXACT shared chain text ONCE per sweep
#   (tools/parity_sf01.py _materialize_lsh_pairs: COPY the rendered
#   `WITH <_SQL_LSH_CTES> SELECT ... FROM lsh_pairs` to parquet, then
#   rewrite each composing oracle's lsh_pairs body to read it back —
#   the rewrite REFUSES an oracle that doesn't embed the exact chain
#   constant, so chain edits can't pair with a stale materialization).
#   Semantics unchanged — same SQL text, same views; the 5 oracles
#   drop to downstream-only cost (~35 min of sweep wall -> ~8).
# * STILL EXCLUDED (re-justified by measurement, all >85-100 s with
#   heavy work PAST the shared CTEs): q121 per-cluster kernel, q127/
#   q206 pairwise containment inventories, q141 (pre-LSH triangle
#   spec), q146/q79 probe inventories, q163 calibration pair sample,
#   q179/q196 multi-arm cascades, q208 dominance pairs, q210 spatial
#   NN spec, and q273 (composes BOTH blocking chains + ground truth;
#   its halves ARE swept — q274 76.7 s, q275 81.8 s).
PARITY_SF1_EXCLUDE = q121_semantic_dedup,q127_ngram_containment_pairs,q141_triangle_count,q146_benchmark_leak_report,q163_minhash_calibration,q179_dedup_cascade_agreement,q196_dedup_threshold_sweep,q206_corpus_containment,q208_skyline_pareto,q210_spatial_nn_join,q79_benchmark_decontamination,q273_near_dup_blocking_recall

parity-scale:    ## full oracle sweep at the sf1 clone (r12) — 10x sf0.1
	PARITY_EXTRA_EXCLUDE=$(PARITY_SF1_EXCLUDE) \
	  python tools/parity_sf01.py PARITY_SCALE_r12.json /root/repo/.scaledata/sf1

bench:           ## headline queries at sf0.1, one JSON line
	python bench.py

perfbench:       ## the repo benchmark (BENCHMARK.json): every workload, untraced + traced
	python3 perfbench/run.py --all --seed 1

ingest-bench:    ## streaming/ingest.py throughput -> INGEST_BENCH.json
	python tools/ingest_bench.py

smoke:           ## driver-contract smoke (entry + registry shape)
	python -c "import importlib.util; \
	spec = importlib.util.spec_from_file_location('e', '__spark_entry__.py'); \
	m = importlib.util.module_from_spec(spec); spec.loader.exec_module(m); \
	q, o = m.queries(), m.oracle_sql(); \
	print(len(q), 'queries,', len(o), 'oracles, subset:', set(o) <= set(q))"
