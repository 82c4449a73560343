#!/usr/bin/env bash
# Paired A/B of the perfbench benchmark between two checkouts. Runs
# <pairs> pairs of `python3 perfbench/run.py --workload <workload>
# --seed <s> --seconds 15` in <parent_dir> and <change_dir>, seeds
# <first_seed>, <first_seed>+1, ..., alternating which side runs first
# (even pairs parent first, odd pairs change first), then prints one
# line per end-to-end metric (BENCHMARK.json's `end_to_end` list of
# <change_dir>) and per `*_p50_ms` detail figure:
#   the parent's and the change's medians, the change's wins (pairs in
#   which it is better; ties count for neither), and the parent's IQR
#   (the distance between the quartiles of its runs),
# and the correct/failed operation counts of each side.
#
# Usage: tools/bench_ab.sh <parent_dir> <change_dir> <workload> <pairs> <first_seed>
#   raw outputs go to $BENCH_AB_OUT (default ${TMPDIR:-/tmp}/graft-bench-ab/<workload>):
#     <side>-<seed>.out   run.py's standard output
#     <side>-<seed>.err   run.py's standard error
# Each run builds its checkout once (perfbench/build.py keys the build on
# a hash of the sources), so the first pair also pays the two builds.
# Exit status is non-zero when a run produced no result line.
set -uo pipefail

PARENT=$(cd "${1:?usage: tools/bench_ab.sh <parent_dir> <change_dir> <workload> <pairs> <first_seed>}" && pwd)
CHANGE=$(cd "${2:?missing <change_dir>}" && pwd)
WORKLOAD=${3:?missing <workload>}
PAIRS=${4:?missing <pairs>}
FIRST=${5:?missing <first_seed>}
OUT=${BENCH_AB_OUT:-${TMPDIR:-/tmp}/graft-bench-ab/$WORKLOAD}
mkdir -p "$OUT"

run() { # <side> <dir> <seed>
  (cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds 15 >"$OUT/$1-$3.out" 2>"$OUT/$1-$3.err")
  echo "  $1 seed $3: $(tail -n 1 "$OUT/$1-$3.out" | cut -c1-160)"
}

for ((i = 0; i < PAIRS; i++)); do
  seed=$((FIRST + i))
  echo "pair $((i + 1))/$PAIRS (seed $seed)"
  if ((i % 2 == 0)); then
    run parent "$PARENT" "$seed"; run change "$CHANGE" "$seed"
  else
    run change "$CHANGE" "$seed"; run parent "$PARENT" "$seed"
  fi
done

python3 - "$OUT" "$CHANGE/BENCHMARK.json" "$FIRST" "$PAIRS" <<'EOF'
import json, statistics, sys

out, spec_path, first, pairs = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
spec = json.load(open(spec_path))
better = {m["name"]: m["better"] for m in spec["end_to_end"]}

def load(side, seed):
    try:
        lines = open(f"{out}/{side}-{seed}.out").read().splitlines()
        res = json.loads(lines[-1])
    except (OSError, IndexError, ValueError):
        return None
    detail = next((json.loads(l[len("detail "):]) for l in lines
                   if l.startswith("detail ")), {})
    vals = {n: m["value"] for n, m in res["metrics"].items()}
    vals.update({k: v for k, v in detail.items() if k.endswith("_p50_ms")})
    return res, vals

runs = {s: [load(s, first + i) for i in range(pairs)] for s in ("parent", "change")}
missing = [f"{s}-{first + i}" for s in runs for i, r in enumerate(runs[s]) if r is None]
ok = [i for i in range(pairs) if runs["parent"][i] and runs["change"][i]]

def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]

names = list(better) + sorted({k for i in ok for k in runs["change"][i][1]
                               if k.endswith("_p50_ms") and k not in better})
print(f"{'metric':<28}{'parent':>12}{'change':>12}{'delta':>9}{'wins':>8}{'parent IQR':>12}")
for n in names:
    pairs_n = [(runs["parent"][i][1][n], runs["change"][i][1][n]) for i in ok
               if n in runs["parent"][i][1] and n in runs["change"][i][1]]
    if not pairs_n:
        continue
    p = [a for a, _ in pairs_n]
    c = [b for _, b in pairs_n]
    lower = better.get(n, "lower") == "lower"
    wins = sum(1 for a, b in pairs_n if (b < a if lower else b > a))
    pm, cm = statistics.median(p), statistics.median(c)
    delta = (cm - pm) / pm * 100 if pm else 0.0
    print(f"{n:<28}{pm:>12.4g}{cm:>12.4g}{delta:>8.1f}%{wins:>4}/{len(pairs_n):<3}{iqr(p):>12.4g}")
for s in ("parent", "change"):
    rs = [r[0] for r in runs[s] if r]
    print(f"{s}: {sum(1 for r in rs if r['correct'])}/{len(rs)} runs correct, "
          f"failed {sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)} operations")
if missing:
    print("no result line: " + ", ".join(missing))
    sys.exit(1)
EOF
