#!/usr/bin/env bash
# Connector oracle gate at two session widths. A full scan plans
# max(bytes / maxPartitionBytes, session slots) segments (at most the
# shard count), so the same q_dyn* key plans differently at 4 and at 32
# slots: at 32, a 16-shard table plans one segment per shard and
# declares its bucket layout (storage-partitioned joins and
# exchange-free keyed aggregates follow). This gate runs graft.Verify
# over every q_dyn* key at SPARK_GRAFT_CPUS=4 and =32 and checks each
# dump against the DuckDB oracle with tools/check.py.
#
# Usage: tools/width_gate.sh <sf_dir> [widths...]   (default widths: 4 32)
#   writes, under $WIDTH_GATE_OUT (default ${TMPDIR:-/tmp}/graft-width-gate):
#     w<N>/                  the Verify dump at width N
#     correctness_w<N>.json  check.py --json, driver-shaped
#     layout_w<N>.tsv        <key>\t<scans reporting a key-grouped layout>
#                            \t<point reads served on the driver>
#                            \t<scans answered from statistics>
#   and prints, per width, the keys whose plans report that layout, the
#   keys whose point reads are served on the driver (LocalTableScanExec)
#   and the keys with a scan that plans a statistics-answer partition.
# Exit status is non-zero when any key fails at any width.
set -uo pipefail
cd "$(dirname "$0")/.."

SF=${1:?usage: tools/width_gate.sh <sf_dir> [widths...]}
shift
WIDTHS=("$@")
[ ${#WIDTHS[@]} -eq 0 ] && WIDTHS=(4 32)
OUT=${WIDTH_GATE_OUT:-${TMPDIR:-/tmp}/graft-width-gate}
mkdir -p "$OUT"

status=0
for w in "${WIDTHS[@]}"; do
  dump="$OUT/w$w"
  layout="$OUT/layout_w$w.tsv"
  rm -rf "$dump" "$layout"
  echo "== Verify: q_dyn* at width $w =="
  SPARK_GRAFT_CPUS=$w SPARK_GRAFT_LAYOUT_OUT="$layout" \
    sbt -batch "runMain graft.Verify $SF $dump q_dyn*" > "$OUT/verify_w$w.log" 2>&1
  # every q_dyn key with an oracle, whether or not Verify dumped it (a
  # key that failed in Verify then fails check.py as "no spark output")
  mapfile -t keys < <(python3 -c '
import json, sys
print("\n".join(sorted(k for k in json.load(open(sys.argv[1]))
                       if k.startswith("q_dyn"))))' "$dump/oracle_sql.json")
  echo "== check.py: ${#keys[@]} q_dyn keys at width $w =="
  if ! python3 tools/check.py "$dump" "$SF" --json "$OUT/correctness_w$w.json" \
      "${keys[@]}" | grep -v '^PASS '; then
    status=1
  fi
  echo "== width $w: keys whose plans report a key-grouped layout =="
  awk -F'\t' '$2 > 0 { printf "  %s (%d scans)\n", $1, $2 }' "$layout" | sort
  echo "== width $w: keys whose point reads are served on the driver =="
  awk -F'\t' '$3 > 0 { printf "  %s (%d reads)\n", $1, $3 }' "$layout" | sort
  echo "== width $w: keys answered from statistics =="
  awk -F'\t' '$4 > 0 { printf "  %s (%d scans)\n", $1, $4 }' "$layout" | sort
done
exit $status
