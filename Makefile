# Single-command CI gate: everything the driver and the judge check,
# runnable locally. `make check` = unit/property/plan tests + the
# benchmark's own tests + the full-registry DuckDB oracle mirror at the
# driver's sf0.01.
#
#   make test      - pytest suite (sf0.001 fixtures, tuned session)
#   make test-split - the same suite, one pytest process (fresh JVM) per
#                    tests/test_*.py file; fails if any file fails. Use it
#                    where one process holding every file's state runs out
#                    of memory.
#   make perfbench-test - the benchmark harness's own tests (perfbench/tests)
#   make oracle    - scripts/check_correctness.py, full registry, sf0.01
#   make plans     - regenerate tests/plan_snapshots.json (review the diff!)
#   make bench     - bench.py at $SPARK_GRAFT_SF_DIR (default sf0.1)
#   make check     - test + perfbench-test + oracle (the plan gate runs
#                    inside pytest)
#   make close     - the round-closing gate (see CLOSING PROTOCOL below)
#
# CLOSING PROTOCOL (added round 9 after the round-8 stale-snapshot slip:
# the last source commit changed a query's join graph, plan_snapshots.json
# was never refreshed, and the round shipped with test_plans.py red):
#
#   After the LAST source commit of a round, run `make close` on the final
#   tree. ANY further source change — however small, including "just a
#   comment in a query function" — restarts the checklist from the top.
#   A gate run on commit N-1 does not certify commit N.
#
#   make close = full pytest (includes the plan-shape gate) + the
#   perfbench tests + the full 233-query oracle mirror at sf0.01. Bench is run separately per the
#   median-of-3 protocol (BENCH_NOISE in BASELINE.md) when perf moved.

PY ?= python

.PHONY: check test test-split perfbench-test oracle plans bench close

check: test perfbench-test oracle
	@echo "CHECK GREEN: pytest + plan gate + perfbench tests + full oracle mirror"

close: check
	@git status --short | grep -q . && echo "CLOSE: WARNING uncommitted changes present" || true
	@echo "CLOSE GREEN on $$(git rev-parse --short HEAD): safe to end the round IFF no further source commits follow"

test:
	$(PY) -m pytest tests/ -q

test-split:
	@failed=""; \
	for f in tests/test_*.py; do \
		echo "== $$f"; \
		$(PY) -m pytest "$$f" -q -p no:cacheprovider || failed="$$failed $$f"; \
	done; \
	if [ -n "$$failed" ]; then echo "TEST-SPLIT FAILED:$$failed"; exit 1; fi; \
	echo "TEST-SPLIT GREEN"

perfbench-test:
	$(PY) -m pytest perfbench/tests -q

oracle:
	$(PY) scripts/check_correctness.py /root/testdata/sf0.01

plans:
	$(PY) scripts/snapshot_plans.py

bench:
	$(PY) bench.py
