# Entry points for the datamunging_spark engine.
PY ?= python

.PHONY: test correctness fuzz fuzz-streaming bench perf scaling scaling-gated

# Differential fuzzing: engine vs DuckDB oracle on randomized HOSTILE
# corpora (empty texts, zero vectors, duplicates, unicode) — catches
# data-dependent divergences sf0.01 never triggers
fuzz:
	$(PY) tools/fuzz_correctness.py 3

# Streaming differential fuzzing (r5): curate/munge/sessionize streaming
# jobs vs their batch twins on hostile corpora, with a mid-stream
# restart (checkpoint resume) + replayed batch per trial
fuzz-streaming:
	$(PY) tools/fuzz_streaming.py 3

# pytest + the full-catalog correctness artifact: regenerating
# CORRECTNESS_local.json in the default flow keeps the artifact from
# going stale vs the catalog (r3 verdict item 9)
test:
	$(PY) -m pytest tests/ -x -q
	$(PY) tools/gen_correctness.py

# Full-catalog correctness artifact (all 90+ queries, not just the
# driver's 50-slot window) -> CORRECTNESS_local.json
correctness:
	$(PY) tools/gen_correctness.py

bench:
	$(PY) bench.py

# Pipeline benchmark end to end (tracing off): both BENCHMARK.json
# workloads at a fixed seed; the last stdout line of each is its result
perf:
	for w in munge_corpus extract_web; do \
	  $(PY) perfbench/run.py --workload $$w --seed 1 --seconds 5 --trace 0 || exit 1; \
	done

scaling:
	$(PY) scaling_bench.py

# Reproducible scaling evidence (round-3 protocol): pre-run busy gate,
# in-run busy/steal contamination retry with per-attempt audit, and a
# pure-ALU host-ceiling probe (see scaling_bench.py). The default pair
# is 8->32; scaling-gated-under runs 2->8 — both widths below host
# capacity, the honest emulation of discrete N->4N executors.
scaling-gated:
	SCALING_LOAD_GATE=2 SCALING_N_DOCS=24000 $(PY) scaling_bench.py

scaling-gated-under:
	SCALING_LOAD_GATE=2 SCALING_N_DOCS=24000 SCALING_N_CORES=2 $(PY) scaling_bench.py

scaling-extract:
	SCALING_LOAD_GATE=2 SCALING_JOB=extract SCALING_N_DOCS=160000 SCALING_N_CORES=2 $(PY) scaling_bench.py
