# Developer targets. The TCK full-corpus run is too slow for pytest
# (~15 min over 4 parallel shards); `make tck` runs it and refreshes
# TCK_TALLY.md so regressions in unfloored areas are caught per round.

SHARDS := 0 1 2 3

.PHONY: test tck bench oracle ab

# alternated base/change runs of perfbench against BENCHMARK.json's
# bounds (tools/ab_pairs.py); BASE is the revision to compare against
BASE ?= HEAD
PAIRS ?= 5

# the tier-1 line of ROADMAP.md
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python3 bench.py

oracle:
	python3 tools/compare_oracle.py /root/testdata/sf0.01

ab:
	python3 tools/ab_pairs.py --base $(BASE) --pairs $(PAIRS)

tck:
	@for i in $(SHARDS); do \
	  SPARK_GRAFT_CPUS=8 python3 tools/run_tck.py --shard $$i/4 \
	    --out /tmp/tck_shard_$$i.txt > /tmp/tck_shard_$$i.log 2>&1 & \
	done; wait
	python3 tools/tally_tck.py /tmp/tck_shard_0.txt /tmp/tck_shard_1.txt \
	  /tmp/tck_shard_2.txt /tmp/tck_shard_3.txt > TCK_TALLY.md
	@tail -n 5 TCK_TALLY.md
