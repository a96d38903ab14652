# Test gates.  `make test` runs the fast tier, the tier-1 command in
# ROADMAP.md; `make test-full` runs the same command over the full suite,
# the tests marked slow included (tests/conftest.py).

PYTEST = SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q \
	--continue-on-collection-errors -p no:cacheprovider

.PHONY: test test-full

test:
	$(PYTEST)

test-full:
	SPARK_GRAFT_FULL_TESTS=1 $(PYTEST)
