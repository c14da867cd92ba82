#!/bin/bash
# Round-5 quiet-window re-measurement (the first r5 gate pass ran in a
# window with 10s executor-heartbeat timeouts — see BENCH/r5/stream_gate.log
# — which degraded every wall-clock number; the host has since rebooted).
# Serialized, one Spark JVM at a time. Results land in BENCH/r5b/.
# Ordered most-important-first so a late noise burst costs the least:
# the fair-window streaming-vs-batch ratio is the round-5 criterion that
# the first pass could not produce.
set -u
cd "$(dirname "$0")/.."
OUT=BENCH/r5b
mkdir -p "$OUT"
export SPARK_GRAFT_SCRATCH=${SPARK_GRAFT_SCRATCH:-/dev/shm/spark_graft}
SPARK_SUBMIT=${SPARK_HOME:-/opt/spark}/bin/spark-submit
EV=$SPARK_GRAFT_SCRATCH/events_16000000_r2

step() { echo "=== $(date +%H:%M:%S) $1 ===" >&2; }

submit32() {
  $SPARK_SUBMIT --master 'local[32]' --driver-memory 24g \
    --conf spark.local.dir=$SPARK_GRAFT_SCRATCH/tmp \
    --py-files dist/engine.zip jobs/ingest.py "$@"
}

# 0. build zip + generate the 16M event log once (scratch was wiped by
#    the host reboot). Reuses run_scaling's generator path for the
#    byte-identical deterministic log.
step "generate"
python - <<'EOF' 2> "$OUT/generate.log"
import sys, os
sys.path.insert(0, "BENCH")
from run_scaling import build_zip, run_submit, SCRATCH
z = build_zip()
ev = os.path.join(SCRATCH, "events_16000000_r2")
if not os.path.exists(os.path.join(ev, "_SUCCESS")):
    run_submit(z, ["generate", "--out", ev, "--n-events", "16000000",
                   "--batch-size", "4000000", "--content-max-reps", "2"],
               master="local[32]")
EOF

# 1. fair-window A/B: batch MoR replay THEN streaming tail (one-job
#    micro-batches) on the same input, back to back. The round-5
#    criterion (VERDICT r4 next #3) is streaming within ~15% of batch MoR
#    at the 16M gate, sha-equal.
step "batch MoR (A)"
TBL=$SPARK_GRAFT_SCRATCH/ab_batch
rm -rf "$TBL"
submit32 replay --events "$EV" --table "$TBL" --master 'local[32]' \
  > "$OUT/batch_mor_a.json" 2> "$OUT/batch_mor_a.log"

step "verify --roundtrip (on the batch table, VERDICT r4 next #7 gate)"
submit32 verify --events "$EV" --table "$TBL" --roundtrip --master 'local[32]' \
  > "$OUT/roundtrip_verify.json" 2> "$OUT/roundtrip_verify.log"
rm -rf "$TBL"

step "streaming tail (B)"
TBL=$SPARK_GRAFT_SCRATCH/ab_stream
rm -rf "$TBL"
submit32 replay --events "$EV" --table "$TBL" --mode stream \
  --max-files-per-trigger 8 --master 'local[32]' \
  > "$OUT/stream_gate.json" 2> "$OUT/stream_gate.log"
submit32 verify --events "$EV" --table "$TBL" --master 'local[32]' \
  > "$OUT/stream_verify.json" 2> "$OUT/stream_verify.log"
rm -rf "$TBL"

step "batch MoR (A2 — brackets the stream run so window drift shows)"
TBL=$SPARK_GRAFT_SCRATCH/ab_batch2
rm -rf "$TBL"
submit32 replay --events "$EV" --table "$TBL" --master 'local[32]' \
  > "$OUT/batch_mor_a2.json" 2> "$OUT/batch_mor_a2.log"
rm -rf "$TBL"

# 2. throughput scaling matrix at 8 vs 32 cores, interleaved best-of-2,
#    with the round-5 thin configs (VERDICT r4 next #4 done criterion:
#    MoR 8->32 speedup >= 1.0x, or byte accounting proving substrate).
step "scaling matrix"
python BENCH/run_scaling.py --n-events 16000000 --runs 2 \
  --configs mor_multi,mor_thin,mor_auto \
  > "$OUT/scaling.json" 2> "$OUT/scaling.log"

# 3. IVM fused-maintenance probe in the same quiet window (first pass ran
#    2x degraded; dev-window measurement was 1.24x merge-alone).
step "ivm probe"
python BENCH/run_ivm_probe.py --n-events 8000000 --runs 3 \
  > "$OUT/ivm_probe.json" 2> "$OUT/ivm_probe.log"

# 4. headline bench (driver contract) with the gated substrate pre-probe
step "bench"
python bench.py > "$OUT/bench.json" 2> "$OUT/bench.log"

step "done"
