#!/bin/bash
# THE correctness gate — one entry point that produces the committable
# CORRECTNESS artifact from the CURRENT tree:
#
#   bash tools/gate.sh [tag] [sfDir]
#
# Runs graft.Verify (every SparkEntry.queries entry → parquet dump +
# oracle_sql.json), then tools/compare_oracle.py (DuckDB replays each oracle,
# hash-compares), and writes CORRECTNESS_local.json ATOMICALLY (tmp +
# rename) so a killed run never leaves a half-written artifact. The artifact
# (and TYPES_local.json) is one rolling file, overwritten on each run; the
# tag only names the /tmp work dir. Exit status is non-zero unless every
# query verdict is ok.
#
# Total ≈ 7 min at sf0.01 on a quiet host (Verify ≈ 4 min, compare ≈ 3 min).
set -u
cd /root/repo
TAG=${1:-r_local}
SF=${2:-/root/testdata/sf0.01}
OUT=/tmp/graft_gate_${TAG}
SUMMARY=CORRECTNESS_local.json
rm -rf "$OUT"
echo "[gate] Verify → $OUT (sf=$SF)"
sbt -batch "runMain graft.Verify $SF $OUT" > /tmp/graft_gate_verify.log 2>&1
if [ ! -f "$OUT/oracle_sql.json" ]; then
  echo "[gate] FAIL: Verify did not complete (see /tmp/graft_gate_verify.log)"
  exit 2
fi
echo "[gate] static dtype-pairing check (check_oracle_types.py)"
TYPES=TYPES_local.json
python3 tools/check_oracle_types.py "$SF" "$OUT" --selftest \
  --report "${TYPES}.tmp"
if [ $? -ne 0 ]; then
  echo "[gate] FAIL: oracle/spark dtype pairing violations (see above +"
  echo "       ${TYPES}.tmp) — repr-divergent at the driver"
  exit 4
fi
mv "${TYPES}.tmp" "$TYPES"
# one DuckDB compare worker per 6 GiB of MemAvailable, clamped to 1..8: a
# fixed 8-worker pool is OOM-killed on a ~15 GB host (every query then reads
# COMPARE CRASH); this changes only the parallelism, not what is compared
JOBS=$(awk '/^MemAvailable:/ {j = int($2 / 6291456)} END {print (j < 1 ? 1 : j > 8 ? 8 : j)}' /proc/meminfo 2>/dev/null)
JOBS=${JOBS:-1}
echo "[gate] compare_oracle → $SUMMARY (--jobs $JOBS)"
python3 tools/compare_oracle.py "$SF" "$OUT" --jobs "$JOBS" \
  --summary "${SUMMARY}.tmp" > /tmp/graft_gate_compare.log 2>&1
if [ ! -f "${SUMMARY}.tmp" ]; then
  echo "[gate] FAIL: compare produced no summary (see /tmp/graft_gate_compare.log)"
  exit 3
fi
mv "${SUMMARY}.tmp" "$SUMMARY"
python3 - "$SUMMARY" <<'EOF'
import json, sys
s = json.load(open(sys.argv[1]))
qs = s["queries"]
bad = [q for q, v in qs.items()
       if not (v.get("rows") and v.get("schema") and v.get("hash"))]
print(f"[gate] {s['n_ok']}/{s['n_total']} ok; bad: {bad[:20]}")
sys.exit(1 if bad else 0)
EOF
exit $?
