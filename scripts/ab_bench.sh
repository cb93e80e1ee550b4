#!/bin/bash
# Load-gated interleaved A/B solo bench: waits for the 1-min load
# average to drop below the gate before every run, then alternates
# NEW (working tree) and OLD (stash) bench.py --only runs.
# Usage: scripts/ab_bench.sh <queries-csv> <pairs> [runs-per-query]
#
# r21 (ADVICE r20): the OLD side runs between `git stash` and
# `git stash pop` under `set -e` — a failure mid-OLD-run used to
# exit with the working tree still stashed (NEW changes silently
# parked). The EXIT trap now guarantees the pop; STASHED tracks
# whether a pop is owed so a clean exit doesn't pop someone else's
# stash entry; it is set only when `git stash` really made an entry.
set -e
Q="$1"; PAIRS="${2:-4}"; export SPARK_GRAFT_BENCH_RUNS="${3:-5}"
GATE="${AB_LOAD_GATE:-2.0}"
STASHED=0
restore() {
  if [ "$STASHED" = 1 ]; then
    git stash pop -q && STASHED=0
  fi
}
trap restore EXIT
wait_quiet() {
  for _ in $(seq 1 60); do
    L=$(cut -d' ' -f1 /proc/loadavg)
    awk -v l="$L" -v g="$GATE" 'BEGIN{exit !(l<g)}' && return 0
    sleep 10
  done
}
for i in $(seq 1 "$PAIRS"); do
  wait_quiet
  python bench.py --only="$Q" 2>/dev/null | python3 -c "import json,sys; print('NEW', json.loads(sys.stdin.read())['queries'])"
  # `git stash` exits 0 on a clean tree without making an entry, so a
  # pop is owed only when the stash list grew
  N_BEFORE=$(git stash list | wc -l)
  git stash -q
  if [ "$(git stash list | wc -l)" -gt "$N_BEFORE" ]; then STASHED=1; fi
  wait_quiet
  python bench.py --only="$Q" 2>/dev/null | python3 -c "import json,sys; print('OLD', json.loads(sys.stdin.read())['queries'])"
  restore
done
