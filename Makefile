# One-command checks (VERDICT r5 task 9: rotated-out queries must not be
# able to regress silently between driver windows — `make check` runs the
# FULL-registry (57-query) exact oracle gate, not just the first
# 50 entries).
#
#   make check   — pytest suite + full exact correctness gate at sf0.01
#   make gate    — correctness gate only (~4 min)
#   make test    — pytest only (tests/ + the benchmark's own checks)
#   make bench   — headline suite at $(SF_DIR), best of 2 runs
#   make plans   — regenerate PLANS.md physical-plan audit
#
# Run a round's `make check` result into BASELINE.md's round log.

PY      := PYTHONPATH=$(CURDIR) python
SF_DIR  ?= /root/testdata/sf0.1

.PHONY: check gate test bench plans expected

check: test gate

test:
	python -m pytest tests/ perfbench/test_perfbench.py -x -q

gate:
	$(PY) scripts/check_correctness.py --sf sf0.01 --exact

bench:
	SPARK_GRAFT_SF_DIR=$(SF_DIR) python bench.py

plans:
	$(PY) scripts/explain_audit.py

# after ANY kernel/synth change: rebuild expected parquet (sequential oracle)
expected:
	MALLOC_MMAP_THRESHOLD_=1073741824 $(PY) scripts/build_expected.py
