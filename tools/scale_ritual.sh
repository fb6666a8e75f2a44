#!/usr/bin/env bash
# sf1 -> sf10 scaling ritual (BASELINE.md "Round-14: sf1 -> sf10 scaling").
# Builds the scaled corpora if absent, then benches at both SFs with
# per-gate wall/cpu/gc/jobs. Compare the two JSON lines: a gate whose cpu
# ratio is far above ~10x at 10x data has a super-linear plan (cpu, unlike
# wall, does not grow with host load). Both legs run cold, one pass per
# gate in a fresh JVM (SPARK_GRAFT_BENCH_WARMUP=0), where the default
# bench run times a second, warm pass.
#
#   tools/scale_ritual.sh [gates-csv]
#
# DEFAULT: the FULL registry (r15, VERDICT r14 #6 — both super-linear
# plans r14 caught were outside the previously-probed heavy subset until
# they weren't; the tail families had never seen sf10). Pass a csv to
# restrict while iterating on one gate. Full-registry sf10 leg is ~25-40
# min wall on a quiet host.
#
# Results land in /tmp/bench_sfscale_{sf1,sf10}.json; summarize with
#   python3 tools/scale_report.py
set -euo pipefail
cd "$(dirname "$0")/.."

GATES="${1:-}"

[ -d /tmp/graft-scale-sf1 ] || python3 tools/make_sf1.py /root/testdata/sf0.1 /tmp/graft-scale-sf1 10
[ -d /tmp/graft-scale-sf10 ] || python3 tools/make_sf1.py /root/testdata/sf0.1 /tmp/graft-scale-sf10 100

for sf in sf1 sf10; do
  echo "=== $sf ==="
  # an EMPTY SPARK_GRAFT_BENCH_ONLY would select zero gates — only set it
  # when a subset was requested; unset means Bench runs the full registry
  if [ -n "$GATES" ]; then export SPARK_GRAFT_BENCH_ONLY="$GATES"; else unset SPARK_GRAFT_BENCH_ONLY; fi
  SPARK_GRAFT_SF_DIR=/tmp/graft-scale-$sf SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_WARMUP=0 \
    SPARK_GRAFT_BENCH_OUT=/tmp/bench_sfscale_${sf}_full.json \
    sbt -batch "runMain graft.Bench" 2>/dev/null \
    | grep '"job_stats"' | head -1 > /tmp/bench_sfscale_$sf.json
  tail -c 600 /tmp/bench_sfscale_$sf.json; echo
done
python3 tools/scale_report.py || true
