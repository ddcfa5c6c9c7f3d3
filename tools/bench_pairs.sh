#!/usr/bin/env bash
# Paired benchmark runs of a change against its parent commit.
#
#   tools/bench_pairs.sh <parent-ref> <workload> <n>
#
# Clones HEAD and <parent-ref> of this repository into fresh temporary
# directories, builds each side with its own CARGO_TARGET_DIR, and runs
# `perfbench/run.py --workload <workload> --trace 0` <n> times on each
# side for the `run_seconds` BENCHMARK.json sets. Pair i uses seed i on
# both sides, and which side runs first alternates from pair to pair,
# so drift over time does not favour one side. It prints each run's
# summary line, then per metric the median and quartiles of each side
# and every pair's delta in percent of the parent's value.
#
# Environment: TRACE=1 runs traced instead; KEEP=<dir> keeps the
# per-run summary lines there. Commit the change first: uncommitted
# edits are not cloned.
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,17p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
parent_ref=$1 workload=$2 n=$3
repo=$(git rev-parse --show-toplevel)
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$repo/BENCHMARK.json")
head_sha=$(git -C "$repo" rev-parse HEAD)
parent_sha=$(git -C "$repo" rev-parse "$parent_ref^{commit}")
work=$(mktemp -d "${TMPDIR:-/tmp}/bench_pairs.XXXXXX")
trap 'rm -rf "$work"' EXIT
out=${KEEP:-$work/out}
mkdir -p "$out"

for side in parent change; do
  sha=$parent_sha
  [ "$side" = change ] && sha=$head_sha
  git clone -q "$repo" "$work/$side"
  git -C "$work/$side" checkout -q --detach "$sha"
done
echo "parent $parent_sha, change $head_sha, workload $workload, $n pairs" >&2

run() { # side pair (the pair's number is its seed)
  (cd "$work/$1" && CARGO_TARGET_DIR="$work/$1-build" python3 perfbench/run.py \
    --workload "$workload" --seed "$2" --seconds "$seconds" \
    --trace "${TRACE:-0}") | tail -n 1 > "$out/$1-$2.json"
  echo "pair $2 $1: $(cat "$out/$1-$2.json")"
}

for i in $(seq 1 "$n"); do
  if [ $((i % 2)) -eq 1 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do run "$side" "$i"; done
done

python3 - "$out" "$n" <<'EOF'
import json, statistics, sys
out, n = sys.argv[1], int(sys.argv[2])
runs = {s: [json.load(open(f"{out}/{s}-{i}.json")) for i in range(1, n + 1)]
        for s in ("parent", "change")}
for s, rs in runs.items():
    bad = [i + 1 for i, r in enumerate(rs) if not r["correct"] or r["failed"]]
    print(f"{s}: {n} runs, incorrect or failing pairs: {bad or 'none'}")
def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]
print(f"{'metric':<20} {'parent q1/med/q3':>28} {'change q1/med/q3':>28}  delta% per pair")
for m in runs["parent"][0]["metrics"]:
    p = [r["metrics"][m]["value"] for r in runs["parent"]]
    c = [r["metrics"][m]["value"] for r in runs["change"]]
    deltas = [100.0 * (b - a) / a if a else float("nan") for a, b in zip(p, c)]
    fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
    print(f"{m:<20} {fmt(quart(p)):>28} {fmt(quart(c)):>28}  "
          + " ".join(f"{d:+.1f}" for d in deltas))
EOF
