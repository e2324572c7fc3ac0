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
#
# End-to-end pairs of the perfbench workloads:
#   tools/bench_pair.sh --perfbench <workload> <prev-ref> [pairs] [first-seed]
# - Runs `perfbench/run.py --workload <workload> --trace 0` as `pairs`
#   (default 10) alternating PREV/HEAD pairs, pair i with seed
#   first-seed + i (default 4001) on both sides, each run as long as
#   BENCHMARK.json's `run_seconds`; every other pair runs HEAD first,
#   so a drift in host load does not favour one side.
# - Each checkout builds its own program (perfbench/build.py), so
#   nothing is compiled here. PREV is the .prevcheck worktree, or the
#   checkout named by PREV_DIR, used as it is.
# - Keeps each run's output in PAIR_OUT (default .bench_run/pairs) and
#   prints, per end-to-end metric and side, the median, Q1-Q3 and the
#   number of pairs HEAD won.
set -u
cd "$(dirname "$0")/.." || exit 1
REPO=$(pwd)

prepare_prev() { # ref
  echo "[pair] preparing prev worktree at $1"
  # A .prevcheck that is NOT a linked worktree (no .git file — e.g. the
  # worktree was pruned but its target/ dir survived) is a trap: git
  # commands inside it resolve UPWARD to the main repo, so the checkout
  # below would detach the MAIN repo's HEAD at $1 and silently
  # bench prev-vs-prev (observed r18: main left detached at the prev
  # ref, bench dying on ClassNotFound in the empty dir). Require the
  # .git link; rebuild the worktree if it is missing.
  if [ -d "$REPO/.prevcheck" ] && [ ! -f "$REPO/.prevcheck/.git" ]; then
    echo "[pair] .prevcheck is not a linked worktree — rebuilding it"
    rm -rf "$REPO/.prevcheck"
    git worktree prune
  fi
  if [ -d "$REPO/.prevcheck" ]; then
    ( cd "$REPO/.prevcheck" && git checkout -qf "$1" ) || exit 1
  else
    git worktree add --detach "$REPO/.prevcheck" "$1" || exit 1
  fi
}

if [ "${1:-}" = "--perfbench" ]; then
  USAGE="usage: tools/bench_pair.sh --perfbench <workload> <prev-ref> [pairs] [first-seed]"
  WORKLOAD=${2:?$USAGE}
  PREV_REF=${3:?$USAGE}
  PAIRS=${4:-10}
  SEED0=${5:-4001}
  OUT=${PAIR_OUT:-$REPO/.bench_run/pairs}
  if [ -n "${PREV_DIR:-}" ]; then
    PREV=$PREV_DIR
  else
    prepare_prev "$PREV_REF"
    PREV=$REPO/.prevcheck
  fi
  mkdir -p "$OUT" || exit 1
  SECONDS_PER_RUN=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
    "$REPO/BENCHMARK.json") || exit 1
  run_side() { # side dir seed
    echo "[pair] $1 seed $3"
    ( cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
        --seconds "$SECONDS_PER_RUN" --trace 0 ) > "$OUT/$1-$3.out" 2> "$OUT/$1-$3.err" \
      || echo "[pair] $1 seed $3 FAILED ($OUT/$1-$3.err)"
  }
  for i in $(seq 0 $((PAIRS - 1))); do
    seed=$((SEED0 + i))
    if [ $((i % 2)) -eq 0 ]; then
      run_side prev "$PREV" "$seed"; run_side head "$REPO" "$seed"
    else
      run_side head "$REPO" "$seed"; run_side prev "$PREV" "$seed"
    fi
  done
  python3 - "$OUT" "$SEED0" "$PAIRS" "$REPO/BENCHMARK.json" <<'PY'
import json, statistics, sys
out, seed0, pairs, spec = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
metrics = json.load(open(spec))["end_to_end"]

def load(side, seed):
    try:
        lines = [json.loads(l) for l in open(f"{out}/{side}-{seed}.out") if l.strip()]
    except (OSError, ValueError):
        return None
    res = lines[-1]
    res["diagnostics"] = next((l["diagnostics"] for l in lines if "diagnostics" in l), {})
    return res

def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

runs = [(load("prev", s), load("head", s)) for s in range(seed0, seed0 + pairs)]
ok = [(p, h) for p, h in runs if p and h]
print(f"[pair] {len(ok)}/{pairs} complete pairs; failed runs or checks: "
      f"prev {sum(1 for p, _ in ok if p['failed'] or not p['correct'])}, "
      f"head {sum(1 for _, h in ok if h['failed'] or not h['correct'])}")
for m in metrics:
    name, higher = m["name"], m["better"] == "higher"
    pv = [p["metrics"][name]["value"] for p, _ in ok]
    hv = [h["metrics"][name]["value"] for _, h in ok]
    if not pv:
        continue
    wins = sum(1 for a, b in zip(pv, hv) if (b > a if higher else b < a))
    (p1, pm, p3), (h1, hm, h3) = quartiles(pv), quartiles(hv)
    gain = (hm - pm) if higher else (pm - hm)
    print(f"{name:18s} prev median {pm:10.2f} (Q1-Q3 {p1:.2f}-{p3:.2f})  "
          f"head median {hm:10.2f} (Q1-Q3 {h1:.2f}-{h3:.2f})  "
          f"head better in {wins}/{len(ok)}  gain {gain:+.2f} vs prev IQR {p3 - p1:.2f}")
def first_warmup(r):
    w = r["diagnostics"].get("warmup_batch_ms")
    w = json.loads(w) if isinstance(w, str) else w
    return w[0] if w else None
for side, i in (("prev", 0), ("head", 1)):
    w = [x for x in (first_warmup(r[i]) for r in ok) if x is not None]
    if w:
        print(f"warmup_batch_ms[0] {side} median {statistics.median(w):.0f}")
PY
  exit 0
fi

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

prepare_prev "$PREV_REF"
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
