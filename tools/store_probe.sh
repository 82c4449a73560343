#!/usr/bin/env bash
# Store-family scale probe (round-18 verdict item 2): the q_dyn_* store
# keys were correctness-gated at sf1 but never probed beyond it — the
# store's own scale risks (seed/build time, journal fold cost, GSI
# rebuild, page-directory metadata growth) are exactly what a 100 TB
# DynamoDB analogue stresses first. Two passes, merged into one
# artifact:
#   1. graft.StoreProbe — lifecycle phases (seed write, compaction
#      fold, GSI build, scans/Query/GSI reads, journal burst, overlay
#      reads, refold) in a PRIVATE store root, plus store file/byte
#      totals;
#   2. graft.BenchSeq over the real q_dyn_* read keys (shared seeded
#      root, min-of-2 so the seed lands in rep 1 and the timing is
#      rep 2).
# Usage: tools/store_probe.sh [sf | fixture_dir]
#   sf          = 3 (default) or 10: builds the sf1 and sf<sf> fixtures
#                 under /tmp/testdata when absent;
#   fixture_dir = an existing fixture directory (e.g. an sf0.1 one),
#                 probed as is — small enough to compare the write and
#                 fold phases of two checkouts on one machine.
# SPARK_DRIVER_MEM (default 8g) and SPARK_GRAFT_CPUS (default 32) pin
# the JVM.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ -d "${1:-}" ]; then
  SFD="$(cd "$1" && pwd)"
  SF="$(basename "$SFD")"
  SF="${SF#sf}"
  echo "== fixture at $SFD =="
else
  SF="${1:-3}"
  SF1=${SF1_DIR:-/tmp/testdata/sf1}
  SFD="/tmp/testdata/sf$SF"
  if [ ! -f "$SF1/lineitem.parquet" ]; then
    echo "== building sf1 fixture at $SF1 (deterministic, from sf0.1) =="
    python tools/make_sf.py /root/testdata/sf0.1 "$SF1" 10
  fi
  if [ ! -f "$SFD/lineitem.parquet" ]; then
    echo "== building sf$SF fixture at $SFD (deterministic, from sf1) =="
    python tools/make_sf.py "$SF1" "$SFD" "$SF"
  else
    echo "== sf$SF fixture present at $SFD =="
  fi
fi
OUT="BENCH_store_sf${SF}probe.json"
MEM="${SPARK_DRIVER_MEM:-8g}"
CPUS="${SPARK_GRAFT_CPUS:-32}"

echo "== StoreProbe lifecycle at sf$SF (pinned $MEM heap) =="
env SPARK_DRIVER_MEM="$MEM" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_SF_DIR="$SFD" \
  SPARK_GRAFT_BENCH_OUT=/tmp/store_probe_lifecycle.json \
  sbt -batch "runMain graft.StoreProbe" | tee /tmp/store_probe_run.log

KEYS=(
  q_dyn_scan q_dyn_query q_dyn_gsi q_dyn_gsi_query
  q_dyn_zone_minmax q_dyn_count q_dyn_group_push q_dyn_topn
  q_dyn_point q_dyn_range
)
echo "== BenchSeq store read keys at sf$SF =="
env SPARK_DRIVER_MEM="$MEM" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_SF_DIR="$SFD" \
  SPARK_GRAFT_BENCH_OUT=/tmp/store_probe_keys.json \
  sbt -batch "runMain graft.BenchSeq ${KEYS[*]}" | tee /tmp/store_probe_keys.log

python - "$OUT" "$SFD" <<'PY'
import json, sys
out, sfd = sys.argv[1], sys.argv[2]
life = json.load(open("/tmp/store_probe_lifecycle.json"))
keys = json.load(open("/tmp/store_probe_keys.json"))
art = {"metric": "store_probe", "unit": "sec", "sf": sfd,
       "lifecycle": life["queries"],
       "customer_rows": life["customer_rows"],
       "order_rows": life["order_rows"],
       "store_files": life["store_files"],
       "store_bytes": life["store_bytes"],
       "queries": keys["queries"], "reps": keys["reps"],
       "value": round(life["value"] + keys["value"], 3)}
with open(out, "w") as f:
    json.dump(art, f, sort_keys=True)
    f.write("\n")
print(f"store probe sf{sfd}: lifecycle {life['value']:.1f}s + "
      f"keys {keys['value']:.1f}s -> {out}")
PY
echo "== store probe done =="
