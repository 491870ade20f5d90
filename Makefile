# CI-shaped gates. `make check` is the one-command pre-commit battery:
#   1. oracles — every queries() entry vs its DuckDB SQL twin at sf0.01
#      (the local replica of the driver's correctness gate);
#   2. plans   — physical-plan audit over every registered query
#      (single-partition windows, cartesians, per-row Python UDFs,
#      dimension sort-merge joins → nonzero exit);
#   3. sanity  — the QueriesSanityCheck analog: every query under a
#      per-query timeout with job-group cancellation, priority names
#      first, failures collected and reported with nonzero exit.
# Each stage exits nonzero on failure and stops the chain.

SF_DIR ?= /root/testdata/sf0.01
TIMEOUT ?= 180

.PHONY: check oracles plans sanity test bench perf-smoke

check: oracles plans sanity

oracles:
	python scripts/check_oracles.py $(SF_DIR)

plans:
	python scripts/plan_audit.py $(SF_DIR)

sanity:
	python scripts/sanity_check.py $(SF_DIR) --timeout $(TIMEOUT)

test:
	python -m pytest tests/ -q

bench:
	python bench.py

# the benchmark on tiny corpora, then its own tests (a few minutes)
perf-smoke:
	python3 perfbench/run.py --smoke
	python3 -m pytest perfbench/tests -q
