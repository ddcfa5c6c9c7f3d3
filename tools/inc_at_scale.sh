#!/bin/bash
# Prepare hardlink copies of a big-SF data dir + its staged artifact
# set for the IncAtScale probe (round-13 verdict #3), then run it.
#
# Hardlinks make the 15 GB data + 8 GB artifact copies ~free, but the
# SMALL CONTROL FILES must be REAL copies: Spark appends rewrite the
# per-dir _SUCCESS in place via truncating writes — through a hardlink
# that would corrupt the ORIGINAL artifact set. The top-level manifest
# is replaced by rename, and is copied anyway. Parquet data files are
# never mutated in place (appends create new files; swaps replace
# links), so they stay hardlinked.
#
# Usage: tools/inc_at_scale.sh <srcData> <srcArt> <workDir> [permille] [rounds] [maxGen]
#   e.g. tools/inc_at_scale.sh /tmp/sf100 \
#          /tmp/graft_dedup_artifacts__tmp_sf100 /tmp/inc100 1 5 4
# rounds > 1 runs a steady-state increment CHAIN (round-15 verdict #3);
# maxGen is update()'s autoCompactMaxGen — rounds >= maxGen forces the
# auto-compaction trigger to fire inside the measured chain.
set -eu
SRC_DATA=$1; SRC_ART=$2; WORK=$3; PERMILLE=${4:-1}; ROUNDS=${5:-1}; MAXGEN=${6:-8}
DATA="$WORK/data"; ART="$WORK/art"
rm -rf "$WORK"; mkdir -p "$DATA" "$ART"
for t in documents.parquet embeddings.parquet; do
  cp -al "$SRC_DATA/$t" "$DATA/$t"
done
# artifact: hardlink the table dirs, real-copy the top-level files
for d in "$SRC_ART"/*/; do cp -al "$d" "$ART/$(basename "$d")"; done
find "$SRC_ART" -maxdepth 1 -type f | while read -r f; do
  cp "$f" "$ART/$(basename "$f")"
done
# per-dir commit files are rewritten in place by Spark appends — break
# their hardlinks (same for checksum sidecars)
find "$ART" \( -name "_SUCCESS" -o -name "._SUCCESS.crc" \) \
    -type f -links +1 | while read -r f; do
  tmp="$f.__copy"; cp "$f" "$tmp"; mv -f "$tmp" "$f"
done
echo "prepared $WORK (data+art hardlinked, control files copied)"
rm -f /root/repo/target/graft-run.lock
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-100g}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
SPARK_GRAFT_SHUFFLE="${SPARK_GRAFT_SHUFFLE:-auto}" \
sbt -batch "runMain graft.tools.IncAtScale $DATA $ART $PERMILLE $ROUNDS $MAXGEN"
