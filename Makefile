# Round-close hygiene: every gate in one target, ending with a CLEAN tree.
# VERDICT r08 item 2: bench_detail.json / BENCH_r*.json / CORRECTNESS_r*.json
# kept landing after the round's last commit, leaving the tree dirty three
# rounds running. `make round-close` is the one command to run last.

SF001 := /root/testdata/sf0.001
SF01  := /root/testdata/sf0.01
SF01DIR ?= $(SF01)

.PHONY: test selfcheck selfcheck-sf001 plan-audit bench round-close

# The Tier-1 gate exactly as ROADMAP.md states it.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

selfcheck-sf001:
	python selfcheck.py $(SF001)

selfcheck:
	python selfcheck.py $(SF01)

plan-audit:
	python tools/plan_audit.py $(SF001)

# bench.py refuses nothing but STAMPS contention (host.load_1m_at_start,
# contended flag) — check `uptime` is < 0.5 before trusting the numbers.
bench:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

# Close out a round: all gates, then stage EVERYTHING (including driver
# artifacts like BENCH_r*.json / CORRECTNESS_r*.json that appeared since
# the last commit) and show what a final commit would contain. The commit
# itself stays manual — the message should say what the round did.
round-close: selfcheck-sf001 selfcheck plan-audit test bench
	git add -A
	git status --short
	@git diff --cached --quiet && echo "tree clean — nothing to commit" \
		|| echo ">>> staged; finish with: git commit -m '<round summary>'"
