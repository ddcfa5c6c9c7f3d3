#!/bin/bash
# Segmented full-registry bench for big SFs whose SESSION-ACCUMULATED
# shuffle spill exceeds the box's disk (the round-11 sf100 sweep died
# at 84% disk on spill no single query needed). Runs Bench in K
# segments (SPARK_GRAFT_BENCH_SEGMENT=i/K), one JVM per segment, with
# scratch cleanup between; each segment emits its own JSON. Merge totals
# by addition.
#
# Round-14 (verdict #1): the sweep shipped rows describing DELETED
# plans in BOTH r12 and r13 (code changed mid-sweep; a segment's sbt
# launch silently recompiled it). Two guards now make that structurally
# impossible:
#   - code freeze: the sweep REFUSES to start with uncommitted changes
#     under src/ or build.sbt (override: SPARK_GRAFT_SWEEP_ALLOW_DIRTY=1,
#     which also marks every segment's sha "<sha>-dirty");
#   - per-segment git SHA: each segment JSON carries the HEAD sha it
#     ran under (SPARK_GRAFT_BENCH_SHA -> Bench's "sha" field); the
#     merge FAILS if any segment's sha differs from any other's or
#     from HEAD at merge time, so a mid-sweep commit can't ship a
#     frankenstein artifact.
#
# Usage: tools/segmented_bench.sh <sfDir> <K> <outPrefix>
#   e.g. tools/segmented_bench.sh /tmp/sf100 6 /tmp/bench_sf100_seg
set -u
SF_DIR=$1; K=$2; PREFIX=$3
REPO=$(cd "$(dirname "$0")/.." && pwd)
SHA=$(git -C "$REPO" rev-parse HEAD)
if [ -n "$(git -C "$REPO" status --porcelain -- src build.sbt project)" ]; then
  if [ "${SPARK_GRAFT_SWEEP_ALLOW_DIRTY:-0}" != "1" ]; then
    echo "FATAL: uncommitted changes under src/ or build.sbt — commit (or" >&2
    echo "stash) before a sweep so every segment measures one SHA." >&2
    echo "Override (marks segments dirty): SPARK_GRAFT_SWEEP_ALLOW_DIRTY=1" >&2
    exit 2
  fi
  SHA="${SHA}-dirty"
fi
for i in $(seq 1 "$K"); do
  # dead spill dirs from the previous segment's JVM
  rm -rf /tmp/blockmgr-* /tmp/spark-* 2>/dev/null
  echo "=== segment $i/$K ($(date -u +%H:%M:%S), sha: $SHA, disk: $(df -h / | awk 'NR==2{print $5}')) ==="
  SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-100g}" \
  SPARK_GRAFT_SF_DIR="$SF_DIR" \
  SPARK_GRAFT_SHUFFLE="${SPARK_GRAFT_SHUFFLE:-auto}" \
  SPARK_GRAFT_JAVA_OPTS="${SPARK_GRAFT_JAVA_OPTS:--Dspark.io.compression.codec=zstd}" \
  SPARK_GRAFT_BENCH_SEGMENT="$i/$K" \
  SPARK_GRAFT_BENCH_SHA="$SHA" \
  SPARK_GRAFT_BENCH_OUT="${PREFIX}_${i}of${K}.json" \
  sbt -batch "runMain graft.Bench" 2>&1 | tee "${PREFIX}_${i}of${K}.log" \
    | grep -E '"metric"|\[bench\]' || true
done
echo "=== merge ==="
HEAD_SHA=$(git -C "$REPO" rev-parse HEAD) REPO="$REPO" \
python3 - "$PREFIX" "$K" <<'EOF'
import json, os, subprocess, sys
prefix, k = sys.argv[1], int(sys.argv[2])
head = os.environ.get("HEAD_SHA", "")
repo = os.environ.get("REPO", ".")
segs = []
for i in range(1, k + 1):
    with open(f"{prefix}_{i}of{k}.json") as f:
        segs.append(json.load(f))
# SHA validation: every segment must have run the same committed code,
# and that CODE must still be what HEAD builds at merge time — else the
# merged artifact would describe plans that no longer exist (r12/r13
# defect). Doc-only commits between sweep and merge are fine: the check
# compares the SOURCE TREE (src/ + build), not the commit id — but any
# sha drift is still recorded in the artifact for the audit trail.
shas = {s.get("sha") for s in segs}
if len(shas) != 1 or None in shas:
    sys.exit(f"FATAL: segments ran different/unknown SHAs: {shas}")
sha = shas.pop()
if sha != head:
    if sha.endswith("-dirty"):
        sys.exit(f"FATAL: segments ran dirty tree {sha}; cannot verify "
                 "against HEAD — re-run the sweep on committed code")
    drift = subprocess.run(
        ["git", "-C", repo, "diff", "--stat", sha, head,
         "--", "src", "build.sbt", "project"],
        capture_output=True, text=True)
    if drift.returncode != 0 or drift.stdout.strip():
        sys.exit(f"FATAL: source changed between segment sha {sha} and "
                 f"HEAD {head} — re-run the stale segments:\n{drift.stdout}")
queries = {}
for s in segs:
    queries.update(s["queries"])
total = sum(s["value"] for s in segs)
merged = {
    "metric": "total", "value": round(total, 2), "unit": "sec",
    "sha": sha,
    "segments": [{"segment": s.get("segment"), "value": s["value"],
                  "sha": s.get("sha"),
                  "n_errors": s["n_errors"]} for s in segs],
    "n_queries": sum(s["n_queries"] for s in segs),
    "n_errors": sum(s["n_errors"] for s in segs),
    "errors": sum((s["errors"] for s in segs), []),
    "queries": dict(sorted(queries.items())),
    "sf": segs[0]["sf"],
}
out = f"{prefix}_merged.json"
with open(out, "w") as f:
    json.dump(merged, f)
print(out, "->", merged["value"], "sec over", merged["n_queries"],
      "queries,", merged["n_errors"], "errors, sha", sha)
EOF
