# Developer entry points. All gates run on the preinstalled toolchain —
# no network access assumed.

.PHONY: test test-full correctness correctness-sf01 bench lint plan-lint plans install smoke scale-smoke loc

test:
	# default tier: slow soak/property/e2e tests excluded (pyproject
	# addopts) so the gate fits the driver's verification budget (r14)
	python -m pytest tests/ -q

test-full:
	# EVERYTHING incl. the slow tier — the round-end gate (-m "" clears
	# the default 'not slow' filter)
	python -m pytest tests/ -q -m ""

correctness:
	python tools/check_correctness.py

correctness-sf01:
	# exactness at 10x the driver's scale — every oracle, sf0.1
	python tools/check_correctness.py /root/testdata/sf0.1

scale-smoke:
	python tools/scale_smoke.py

bench:
	python bench.py 2>/dev/null | tail -1

lint:
	@command -v ruff >/dev/null 2>&1 && ruff check pyspark_streaming_base_spark tests tools \
		|| echo "ruff not installed; skipping"

# code lines as ROADMAP.md and CHANGES.md quote them (tokenizer count,
# comments and docstrings excluded): the package and bench.py
loc:
	@python tools/code_lines.py

plan-lint:
	python tools/lint_plans.py

plans:
	# regenerate PLANS.md (formatted physical plans for the audit set)
	python tools/dump_plans.py

install:
	# normal toolchains: pip install -e .  — this container lacks the
	# `wheel` package PEP 660 needs, so fall back to the egg-info path
	pip install -e . --no-build-isolation --no-deps 2>/dev/null \
		|| python setup.py develop --no-deps

smoke:
	python -c "from pyspark_streaming_base_spark.app.streaming_app import StreamingApp; print('ok')"
