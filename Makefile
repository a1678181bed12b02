# Developer entry points. The driver runs bench.py / __spark_entry__.py
# directly; these targets are the local equivalents.

.PHONY: test check-entries bench bench-scaling ab

test:            ## full test suite
	python -m pytest tests/ -q

check-entries:   ## driver-shaped correctness gate over ALL queries() entries
	python scripts/check_entries.py

bench:           ## headline bench at $$SPARK_GRAFT_SF_DIR (default sf0.1)
	python bench.py

bench-scaling:   ## two-parallelism scaling probe (local[8] vs local[32])
	python bench_scaling.py

REF ?= HEAD~1
WORKLOAD ?= query_mix
SEEDS ?= 1-6
CLAIM ?=
ab:              ## interleaved perfbench A/B vs $$REF; CLAIM=metric judges a claimed gain
	python3 scripts/ab_perfbench.py --ref $(REF) --workload $(WORKLOAD) --seeds $(SEEDS) $(if $(CLAIM),--claim $(CLAIM))
