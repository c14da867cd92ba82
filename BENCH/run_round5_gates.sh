#!/bin/bash
# Round-5 gate measurements, serialized (one Spark JVM at a time — the
# shared box makes concurrent windows incomparable). Results land as
# JSON in BENCH/r5/. Reproduce any single step by its command below.
set -u
cd "$(dirname "$0")/.."
OUT=BENCH/r5
mkdir -p "$OUT"
export SPARK_GRAFT_SCRATCH=${SPARK_GRAFT_SCRATCH:-/dev/shm/spark_graft}

step() { echo "=== $(date +%H:%M:%S) $1 ===" >&2; }

# 1. throughput scaling matrix, 16M, interleaved best-of-2
step "scaling matrix"
python BENCH/run_scaling.py --n-events 16000000 --runs 2 \
  --configs mor_multi,mor_thin,mor_auto,mor_fixed64 \
  > "$OUT/scaling.json" 2> "$OUT/scaling.log"

# 2. shuffle byte accounting, thin-content generator rows (reps 2)
step "byte accounting (thin content)"
python BENCH/run_scaling.py --n-events 16000000 --measure-bytes --skip-cpu-probe \
  --configs mor_multi,mor_thin \
  > "$OUT/bytes_reps2.json" 2> "$OUT/bytes_reps2.log"

# 3. shuffle byte accounting at the thin-row design point: fat content
#    (reps 16 ~ KB-scale file bodies, what a code CDC table carries)
step "byte accounting (fat content)"
python BENCH/run_scaling.py --n-events 4000000 --content-max-reps 16 \
  --measure-bytes --skip-cpu-probe \
  --configs mor_multi,mor_thin \
  > "$OUT/bytes_fat.json" 2> "$OUT/bytes_fat.log"

# 4. streaming tail at the 16M gate (one-job micro-batches, r5)
step "streaming gate"
EV=$SPARK_GRAFT_SCRATCH/events_16000000_r2
TBL=$SPARK_GRAFT_SCRATCH/stream_gate
rm -rf "$TBL"
SPARK_SUBMIT=${SPARK_HOME:-/opt/spark}/bin/spark-submit
$SPARK_SUBMIT --master 'local[32]' --driver-memory 24g \
  --conf spark.local.dir=$SPARK_GRAFT_SCRATCH/tmp \
  --py-files dist/engine.zip jobs/ingest.py replay \
  --events "$EV" --table "$TBL" --mode stream \
  --max-files-per-trigger 8 --master 'local[32]' \
  > "$OUT/stream_gate.json" 2> "$OUT/stream_gate.log"
$SPARK_SUBMIT --master 'local[32]' --driver-memory 24g \
  --conf spark.local.dir=$SPARK_GRAFT_SCRATCH/tmp \
  --py-files dist/engine.zip jobs/ingest.py verify \
  --events "$EV" --table "$TBL" --master 'local[32]' \
  > "$OUT/stream_verify.json" 2> "$OUT/stream_verify.log"
rm -rf "$TBL"

# 5. batch MoR replay + full verify --roundtrip (aggview/analyze/rollback
#    round-trips at gate scale — VERDICT r4 next #7)
step "verify roundtrip gate"
TBL=$SPARK_GRAFT_SCRATCH/roundtrip_gate
rm -rf "$TBL"
$SPARK_SUBMIT --master 'local[32]' --driver-memory 24g \
  --conf spark.local.dir=$SPARK_GRAFT_SCRATCH/tmp \
  --py-files dist/engine.zip jobs/ingest.py replay \
  --events "$EV" --table "$TBL" --master 'local[32]' \
  > "$OUT/roundtrip_replay.json" 2> "$OUT/roundtrip_replay.log"
$SPARK_SUBMIT --master 'local[32]' --driver-memory 24g \
  --conf spark.local.dir=$SPARK_GRAFT_SCRATCH/tmp \
  --py-files dist/engine.zip jobs/ingest.py verify \
  --events "$EV" --table "$TBL" --roundtrip --master 'local[32]' \
  > "$OUT/roundtrip_verify.json" 2> "$OUT/roundtrip_verify.log"
rm -rf "$TBL"

# 6. SCD2 lake-backed incremental at the gate (VERDICT r4 next #8)
step "scd2 gate"
python BENCH/run_scd2_probe.py --n-events 16000000 \
  > "$OUT/scd2_gate.json" 2> "$OUT/scd2_gate.log"

# 7. IVM probe on the round-5 fused one-job maintenance path
step "ivm probe"
python BENCH/run_ivm_probe.py --n-events 8000000 --runs 3 \
  > "$OUT/ivm_probe.json" 2> "$OUT/ivm_probe.log"

# 8. headline bench (driver contract) in the same quiet window
step "bench"
python bench.py > "$OUT/bench.json" 2> "$OUT/bench.log"

step "done"
