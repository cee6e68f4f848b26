#!/bin/bash
# r13 verdict item 7: the SPILL-TOLERANT decade probe.
# Run ONE dedup flagship at sf10 with the heap deliberately constricted
# so Spark's aggregation/join paths actually spill, then verify the
# output is bit-identical to the 48g (zero-spill) run. Evidence that
# graceful degradation holds empirically, not by zero-spill luck.
# Needs the sf10 replica: python3 tools/scale_testdata.py <sf1 dir> scaled/sf10
set -e
cd "$(dirname "$0")/.."
detail="${TMPDIR:-/tmp}/spillprobe_detail.json"
echo "== constricted-heap bench (forces spill) =="
SPARK_GRAFT_SF_DIR=scaled/sf10 SPARK_GRAFT_ONLY=q_dedup_clusters \
  SPARK_GRAFT_OUT="$detail" \
  SPARK_GRAFT_ITERS=1 SPARK_DRIVER_MEM=${SPILL_MEM:-10g} SPARK_GRAFT_CPUS=32 \
  sbt -batch 'runMain graft.Bench' >/dev/null 2>&1
python3 - "$detail" <<'EOF'
import json, sys
p = json.load(open(sys.argv[1]))["profile"]["q_dedup_clusters"]
print(json.dumps({"query": "q_dedup_clusters", "wall_s": p["wall_s"],
                  "spill_disk_bytes": p["spill_disk_bytes"],
                  "shuffle_write_bytes": p["shuffle_write_bytes"],
                  "peak_stage_shuffle_write": p["peak_stage_shuffle_write"]}))
EOF
echo "== constricted-heap verify dump =="
rm -rf /tmp/verify_sf10_spill
SPARK_GRAFT_ONLY=q_dedup_clusters SPARK_DRIVER_MEM=${SPILL_MEM:-10g} \
  SPARK_GRAFT_CPUS=32 \
  sbt -batch 'runMain graft.Verify scaled/sf10 /tmp/verify_sf10_spill' \
  2>&1 | grep -E "verify.*failed" || true
echo "SPILL_PROBE_DONE"
