#!/bin/bash
# Interleaved A/B of the repo benchmark: the working tree (NEW) against
# a committed revision (OLD, default HEAD).
#
#   scripts/ab_bench.sh <workload> <pairs> <seed> [rev]
#
# Each run is `perfbench/run.py --workload <workload> --seed <seed>
# --seconds <run_seconds from BENCHMARK.json> --trace 0`. OLD runs from
# a `git archive` export of <rev> in a temporary directory, so the
# working tree is never stashed or switched. Odd pairs run NEW first,
# even pairs OLD first. Before every run the script waits (up to
# 10 min) for the 1-min load average to drop below AB_LOAD_GATE
# (default 2.0). A run whose wait timed out goes ahead under load: a
# stderr line names its side and pair, and its result line carries
# "gate_timed_out": true.
#
# Prints each run's result line, then per side the correctness, the
# failed operations and the count of gate time-outs, then per
# end-to-end metric each side's median and quartiles, the spread
# (quartile distance over the median), NEW's win count over the pairs
# (ties count for neither) and whether the median gap exceeds OLD's
# quartile distance.
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 <workload> <pairs> <seed> [rev]" >&2
  exit 2
fi
WORKLOAD="$1"; PAIRS="$2"; SEED="$3"; REV="${4:-HEAD}"
GATE="${AB_LOAD_GATE:-2.0}"
ROOT="$(git rev-parse --show-toplevel)"
SECONDS_PER_RUN="$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$ROOT/BENCHMARK.json")"

WORK="$(mktemp -d)"
trap 'rm -rf "$WORK"' EXIT
mkdir "$WORK/old"
git -C "$ROOT" archive "$REV" | tar -x -C "$WORK/old"
RESULTS="$WORK/results.jsonl"

wait_quiet() {  # fails if the load average never dropped under the gate
  for _ in $(seq 1 60); do
    L=$(cut -d' ' -f1 /proc/loadavg)
    awk -v l="$L" -v g="$GATE" 'BEGIN{exit !(l<g)}' && return 0
    sleep 10
  done
  return 1
}

run_side() {  # <side> <pair> <checkout>
  local line timed_out=0
  if ! wait_quiet; then
    timed_out=1
    echo "# $1 pair $2: load average still >= $GATE after 10 min; running under load" >&2
  fi
  line="$(cd "$3" && python3 perfbench/run.py --workload "$WORKLOAD" \
    --seed "$SEED" --seconds "$SECONDS_PER_RUN" --trace 0 2>/dev/null | tail -n 1)"
  python3 -c 'import json,sys
r = json.loads(sys.argv[3]); r["side"] = sys.argv[1]; r["pair"] = int(sys.argv[2])
if sys.argv[4] == "1":
    r["gate_timed_out"] = True
print(json.dumps(r))' "$1" "$2" "$line" "$timed_out" | tee -a "$RESULTS"
}

echo "# $WORKLOAD seed $SEED, $PAIRS pairs, --seconds $SECONDS_PER_RUN: NEW = working tree, OLD = $REV ($(git -C "$ROOT" rev-parse --short "$REV"))"
for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) = 1 ]; then
    run_side new "$i" "$ROOT"; run_side old "$i" "$WORK/old"
  else
    run_side old "$i" "$WORK/old"; run_side new "$i" "$ROOT"
  fi
done

python3 - "$RESULTS" "$ROOT/BENCHMARK.json" <<'EOF'
import json
import statistics
import sys

runs = [json.loads(line) for line in open(sys.argv[1])]
metrics = json.load(open(sys.argv[2]))["end_to_end"]
side = {s: {r["pair"]: r for r in runs if r["side"] == s} for s in ("old", "new")}
pairs = sorted(set(side["old"]) & set(side["new"]))
for s in ("old", "new"):
    rs = side[s].values()
    print(f"{s}: correct {all(r['correct'] for r in rs)}, "
          f"failed {sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}, "
          f"gate timed out {sum(r.get('gate_timed_out', False) for r in rs)}/{len(rs)}")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    stats = {}
    for s in ("old", "new"):
        vals = [side[s][p]["metrics"][name]["value"] for p in pairs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
        stats[s] = (q1, med, q3)
        print(f"{name} {s}: median {med:.4g} [q1 {q1:.4g}, q3 {q3:.4g}] "
              f"spread {(q3 - q1) / med if med else 0:.3f}")
    wins = 0
    for p in pairs:
        o, n = (side[s][p]["metrics"][name]["value"] for s in ("old", "new"))
        wins += (n < o) if lower else (n > o)
    gap = stats["new"][1] - stats["old"][1]
    iqr_old = stats["old"][2] - stats["old"][0]
    print(f"{name}: NEW wins {wins}/{len(pairs)}, median gap {gap:+.4g} "
          f"({gap / stats['old'][1]:+.1%}), |gap| > OLD quartile distance "
          f"{iqr_old:.4g}: {abs(gap) > iqr_old}")
EOF
