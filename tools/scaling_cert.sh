#!/bin/bash
# Scaling certification: a compute-bound data point at sf1 (10x the
# bench SF, generated by graft.GenSf1 into /tmp/sf1), TPC-H gates + the
# heaviest pipeline queries, at 1, 2, 4, … cores, doubling up to the
# host's `nproc`. Emits one graft.Bench detail JSON per pass under
# /tmp/scaling/ (per-query seconds and layer split).
#
# Usage: tools/scaling_cert.sh [filter-regex]
set -e
mkdir -p /tmp/scaling
FILTER=${1:-'q\d\d_.*|q_pipeline_release|q_pipeline_mix|q_ccnet_buckets|q_pipeline_train_ready|q_boilerplate|q_tfidf_topk|q_dedup_minhash|q_decontaminate|q_decontaminate_frac|q_span_dedup|q_token_budget_select|q_profile_table'}
MAX=$(nproc)
for ((CPUS = 1; CPUS <= MAX; CPUS *= 2)); do
  echo "=== sf1 @ ${CPUS} cores ==="
  SPARK_GRAFT_SF_DIR=/tmp/sf1 \
  SPARK_GRAFT_CPUS=$CPUS \
  SPARK_GRAFT_BENCH_FILTER="$FILTER" \
  SPARK_GRAFT_BENCH_DETAIL=/tmp/scaling/sf1_c${CPUS}.json \
  sbt -batch "runMain graft.Bench" 2>&1 | grep -a '"metric"' | tail -1
done
