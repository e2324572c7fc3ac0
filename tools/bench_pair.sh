#!/bin/bash
# The committed-pair bench protocol, now with the quiet gate BUILT IN
# (round-16 lesson: the pair started at loadavg 1.58 against the
# protocol's own <0.7 bar and min-estimator agreement fell to 87%).
#
# Benches HEAD and a PREV ref as a same-day pair:
#   tools/bench_pair.sh <prev-ref> [sf-dir]
# - PREV runs from an isolated worktree (.prevcheck — own target/,
#   never the shared build dir), HEAD from the repo itself.
# - EVERY run gates on 1-min loadavg < 0.7 first (wait_quiet), with a
#   bounded wait: after QUIET_TIMEOUT_S (default 1800 s) it proceeds
#   and says so — the artifact's loadavg_start records the truth, and
#   BASELINE.md's protocol note covers the host-never-idled case
#   (headline falls back to the same-day pairwise-min comparison).
# - Writes BENCH_IDLE.json (HEAD) and BENCH_IDLE_PREV.json (prev) into
#   the repo root, then prints the bench_compare verdict.
set -u
cd "$(dirname "$0")/.." || exit 1
REPO=$(pwd)
PREV_REF=${1:?usage: tools/bench_pair.sh <prev-ref> [sf-dir]}
SF=${2:-/root/testdata/sf0.1}
QUIET_TIMEOUT_S=${QUIET_TIMEOUT_S:-1800}

wait_quiet() {
  # r18 lesson: the 1-min average recovers minutes before the host
  # actually goes quiet — gate on the 5-min average too (an unchanged
  # control query read 1.24x in a pair admitted by the 1-min gate
  # alone). QUIET_L5 overridable for hosts with standing background
  # load.
  local waited=0
  while :; do
    read -r l l5 _ < /proc/loadavg
    awk -v l="$l" -v l5="$l5" -v cap5="${QUIET_L5:-1.0}" \
      'BEGIN{exit !(l < 0.7 && l5 < cap5)}' && return 0
    if [ "$waited" -ge "$QUIET_TIMEOUT_S" ]; then
      echo "[pair] host never idled in ${QUIET_TIMEOUT_S}s (loadavg $l) — proceeding, artifact records it"
      return 0
    fi
    sleep 20; waited=$((waited + 20))
  done
}

run_bench() { # dir out log
  ( cd "$1" && wait_quiet && \
    SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_BENCH_OUT="$2" \
      sbt "runMain graft.Bench" > "$3" 2>&1 )
}

echo "[pair] preparing prev worktree at $PREV_REF"
# A .prevcheck that is NOT a linked worktree (no .git file — e.g. the
# worktree was pruned but its target/ dir survived) is a trap: git
# commands inside it resolve UPWARD to the main repo, so the checkout
# below would detach the MAIN repo's HEAD at $PREV_REF and silently
# bench prev-vs-prev (observed r18: main left detached at the prev
# ref, bench dying on ClassNotFound in the empty dir). Require the
# .git link; rebuild the worktree if it is missing.
if [ -d "$REPO/.prevcheck" ] && [ ! -f "$REPO/.prevcheck/.git" ]; then
  echo "[pair] .prevcheck is not a linked worktree — rebuilding it"
  rm -rf "$REPO/.prevcheck"
  git worktree prune
fi
if [ -d "$REPO/.prevcheck" ]; then
  ( cd "$REPO/.prevcheck" && git checkout -qf "$PREV_REF" ) || exit 1
else
  git worktree add --detach "$REPO/.prevcheck" "$PREV_REF" || exit 1
fi
echo "[pair] compiling prev"
( cd "$REPO/.prevcheck" && sbt compile ) > /tmp/pair_prev_compile.log 2>&1 \
  || { echo "[pair] prev compile FAILED (/tmp/pair_prev_compile.log)"; exit 1; }
echo "[pair] compiling head"
sbt compile > /tmp/pair_head_compile.log 2>&1 \
  || { echo "[pair] head compile FAILED (/tmp/pair_head_compile.log)"; exit 1; }

echo "[pair] benching prev ($PREV_REF)"
run_bench "$REPO/.prevcheck" "$REPO/BENCH_IDLE_PREV.json" /tmp/pair_prev.log \
  || { echo "[pair] prev bench FAILED (/tmp/pair_prev.log)"; exit 1; }
echo "[pair] benching head"
run_bench "$REPO" "$REPO/BENCH_IDLE.json" /tmp/pair_head.log \
  || { echo "[pair] head bench FAILED (/tmp/pair_head.log)"; exit 1; }

echo "[pair] verdict (min estimator, max(15%,100ms)):"
python3 "$REPO/tools/bench_compare.py" \
  "$REPO/BENCH_IDLE_PREV.json" "$REPO/BENCH_IDLE.json" 15 100 \
  --key=queries_min || true
for f in "$REPO/BENCH_IDLE_PREV.json" "$REPO/BENCH_IDLE.json"; do
  python3 -c "import json; d=json.load(open('$f')); print('$f', 'total=%.1f'%d['value'], 'load_start=%s'%d.get('loadavg_start'))"
done
