# Developer entrypoints (mirrors .claude/skills/verify/SKILL.md)

.PHONY: test verify verify-sf01 bench slow-parity list kafka-e2e sf1 sf5 \
	verify-sf1 bench-sf1 plan-audit conf-check bench-streaming \
	bench-streaming-sf1 ivf-recall invariance-sf5 conf-curation bpe-curve \
	bpe-envelope curation-sf1

# the tier-1 suite, in the configuration ROADMAP.md names
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors \
	  -p no:cacheprovider

verify:
	python scripts/verify_gate.py

# same gate at 10x the driver's scale factor (slow; full-registry
# robustness check against the DuckDB oracle on sf0.1)
verify-sf01:
	python scripts/verify_gate.py /root/testdata/sf0.1

bench:
	python bench.py 2>/dev/null | tail -1

slow-parity:
	SPARK_GRAFT_SLOW_TESTS=1 python -m pytest tests/test_parity_sf01.py tests/test_cluster_checkpoint.py -q

# ---- scale stress (round-4): sf1 = deterministic 10x key-offset
# replication of sf0.1 (6M lineitem / 1M events / 50k docs) ----
data/sf1/lineitem.parquet:
	python scripts/make_sfn.py --out data/sf1 --factor 10

sf1: data/sf1/lineitem.parquet

# 50x replication (30M lineitem / 5M events / 250k docs / 100k vectors)
# for spot-benches beyond the sf1 gate scale:
#   SPARK_GRAFT_SF_DIR=data/sf5 SPARK_GRAFT_BENCH_ONLY=q1_pricing_summary,... python bench.py
data/sf5/lineitem.parquet:
	python scripts/make_sfn.py --out data/sf5 --factor 50

sf5: data/sf5/lineitem.parquet

# full 87-query oracle gate at sf1: ~12 min wall since the round-6
# min-label-propagation oracle rewrite (was ~1h — the recursive-closure
# CC mirrors dominated); several DuckDB mirrors remain 10-100x slower
# than the engine at this SF. The gate itself stays hash-exact.
verify-sf1: sf1
	python scripts/verify_gate.py data/sf1 24

bench-sf1: sf1
	SPARK_GRAFT_SF_DIR=data/sf1 python bench.py 2>/dev/null | tail -1

# physical join-strategy diff across SFs (plan flips at 10x)
plan-audit: sf1
	python scripts/plan_scale_audit.py /root/testdata/sf0.1 data/sf1

# boot a session with the 100 TB cluster knobs (conf/spark-defaults-
# 100tb.conf) at sf0.1: oracle-exact gate subset + join-mix parity vs
# the default session (no Cartesian/NestedLoop may appear)
conf-check:
	python scripts/conf_100tb_check.py /root/testdata/sf0.1 16

# end-to-end ingest capacity: wire JSON -> parse/route -> exactly-once
# partitioned parquet lake (same topology the recovery tests kill/restart)
bench-streaming:
	python scripts/bench_streaming.py /root/testdata/sf0.1 2>/dev/null | tail -1

bench-streaming-sf1: sf1
	python scripts/bench_streaming.py data/sf1 2>/dev/null | tail -1

# multi-probe IVF recall/cost curve (probes 1/2/4 vs exact top-5).
# sf0.1 is the meaningful corpus: sfN replicas put a query's exact
# duplicates in its own cell, pinning recall at 1.0
ivf-recall:
	python scripts/ivf_recall_curve.py /root/testdata/sf0.1 2>/dev/null

# Spark-vs-Spark partition-invariance sweep of the bench subset at sf5
# (beyond sf1 the DuckDB oracle, not the engine, is the gate bottleneck)
invariance-sf5: sf5
	python scripts/partition_invariance.py data/sf5 32 32 --bench 2>/dev/null > /tmp/pi_a.txt
	python scripts/partition_invariance.py data/sf5 5 11 --bench 2>/dev/null > /tmp/pi_b.txt
	diff /tmp/pi_a.txt /tmp/pi_b.txt && echo INVARIANT-OK

list:
	python -m flink_tank_spark.tools.run_query --list

# Real-broker E2E (S1/S2 + K1/K2). Needs Docker + network:
#   docker compose up -d kafka     # single-node KRaft on localhost:9092
#   make kafka-e2e
# SPARK_GRAFT_PACKAGES resolves the Kafka connector from Maven at session
# start (version must match the installed pyspark).
kafka-e2e:
	SPARK_GRAFT_KAFKA_BOOTSTRAP=localhost:9092 \
	SPARK_GRAFT_PACKAGES=org.apache.spark:spark-sql-kafka-0-10_2.13:$$(python -c 'import pyspark; print(pyspark.__version__)') \
	python -m pytest tests/test_kafka_integration.py -q

# round-11 evidence targets ------------------------------------------------

# full curation job under the 100 TB conf vs the default conf at sf5:
# identical stage funnels, no Cartesian/NestedLoop joins
conf-curation: sf5
	python scripts/conf_100tb_curation.py data/sf5 16 CONF100TB_CURATION_r11.json

# BPE trainer cost curve: naive vs incremental-delta vs local at 256
# merges over a 20k-word synthetic vocabulary
bpe-curve:
	python scripts/bpe_scale_curve.py 20000 BPE_SCALE_r11.json

# round-12 evidence targets ------------------------------------------------

# BPE driver envelope at a 1M-word vocabulary: collect footprint vs the
# symbol-count dispatch bound, local-trainer cost at 256/1024/4096
# merges, incremental-trainer spot parity at 64
bpe-envelope:
	python scripts/bpe_envelope.py 1000000 BPE_SCALE_r12.json

# end-to-end curation job rehearsal at sf1 with every optional stage on
curation-sf1: sf1
	time python -m flink_tank_spark.jobs.curation_job --sf-dir data/sf1 \
	  --out /tmp/curation_sf1_corpus --containment --sample-k 5000 \
	  --dsir-scores --vocab-stats 2>/dev/null | tail -1
