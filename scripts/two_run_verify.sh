#!/usr/bin/env bash
# Two-run fresh-session determinism harness (VERDICT r11 #4; see
# docs/DETERMINISM.md). Runs the FULL registered sweep twice in
# separate JVMs — fresh DfCache, fresh /tmp layout tables — and diffs
# every output cell-exact, and fails if either run computed a cached
# partition twice. Part of the round gate next to check.py.
# Run A uses DevSession's default core and shuffle-partition count (32),
# run B SPARK_GRAFT_CPUS=4, so the same diff also catches a result that
# depends on the partition count (a double sum in partition order).
#
# Usage: scripts/two_run_verify.sh [sfDir]   (default sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
A=/tmp/graft_det_a
B=/tmp/graft_det_b
rm -rf "$A" "$B"
# fresh layouts: the StorageLayout queries write their tables under a
# per-session temp directory, so run B rebuilds them from scratch AGAIN
# (a layout-content dependence would diff)
env -u SPARK_GRAFT_CPUS sbt -batch "runMain graft.Verify $SF_DIR $A" > /tmp/graft_det_a.log 2>&1
SPARK_GRAFT_CPUS=4 sbt -batch "runMain graft.Verify $SF_DIR $B" > /tmp/graft_det_b.log 2>&1
python3 scripts/determinism.py "$A" "$B"
# a persisted block that two jobs both computed (Spark logs "Block
# rdd_N_P already exists") is duplicated work: every DfCache build
# materializes once, eagerly, so neither run may log one
if grep -H 'Block rdd_.* already exists' /tmp/graft_det_a.log /tmp/graft_det_b.log; then
  echo "two_run_verify: a cached partition was computed twice (lines above)" >&2
  exit 1
fi
