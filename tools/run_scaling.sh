#!/bin/bash
# 1<->4-core scaling pairs: interleaved JVMs (cpus 1, 4, 1, 4) on a
# quiet box — NO other Spark JVM while timing — each appending one JSON
# line to $OUT. Protocol: zstd-9, 3 rounds per op with round 0
# absorbing warmup, min-over-rounds>=1 estimator.
#
# The body is the round-5 run (scaling_runs_r5.jsonl): shuffle-path
# MERGE only, at 147456 clips — the size where the r4 Amdahl fit
# predicts >=0.85 efficiency (the ~4.4 s O(metadata) serial term
# amortizes into the ~150 s scalable rewrite).
#
# The other committed runs used the same loop with OUT and the
# command line replaced by:
#   r3 (OUT=tools/scaling_runs_r3.jsonl):
#     SPARK_GRAFT_CPUS=$c SPARK_GRAFT_SCALE_CLIPS=49152 \
#     SPARK_GRAFT_SCALE_CODEC=zstd SPARK_GRAFT_SCALE_ZSTD_LEVEL=9 \
#       python tools/bench_scaling.py 2>/dev/null | tail -1 >> "$OUT"
#   r4 (OUT=tools/scaling_runs_r4.jsonl), then a big pair with
#   SPARK_GRAFT_SCALE_CLIPS=49152 prefixed, same output file:
#     SPARK_GRAFT_CPUS=$c python tools/bench_scaling_ops.py 2>/dev/null \
#       | tail -1 >> $OUT
cd "$(dirname "$0")/.."
OUT=tools/scaling_runs_r5.jsonl
for pair in 1 2; do
  for c in 1 4; do
    echo "=== pair $pair cpus $c start $(date +%s) load: $(cat /proc/loadavg)" >> /tmp/scaling_ops_r5.log
    SPARK_GRAFT_CPUS=$c SPARK_GRAFT_SCALE_CLIPS=147456 \
    SPARK_GRAFT_SCALE_OPS=merge SPARK_GRAFT_SCALE_ROUNDS=3 \
      python tools/bench_scaling_ops.py 2>/dev/null | tail -1 >> $OUT
  done
done
echo "=== done $(date +%s)" >> /tmp/scaling_ops_r5.log
