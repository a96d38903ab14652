# Test gates.  `make check` compiles every tool and bench script and
# collects every test module, so a tool or test that no longer compiles or
# imports fails in seconds; `make test` runs it, then the fast tier, the
# tier-1 command in ROADMAP.md; `make test-full` runs it, then the same
# command over the full suite, the tests marked slow included
# (tests/conftest.py).

PYTEST = SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q \
	--continue-on-collection-errors -p no:cacheprovider

.PHONY: check test test-full

check:
	python -m py_compile tools/*.py perfbench/*.py
	python -m pytest --collect-only -qq -p no:cacheprovider tests/

test: check
	$(PYTEST)

test-full: check
	SPARK_GRAFT_FULL_TESTS=1 $(PYTEST)
