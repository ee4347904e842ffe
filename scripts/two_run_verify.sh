#!/usr/bin/env bash
# Two-run fresh-session determinism harness (VERDICT r11 #4; see
# docs/DETERMINISM.md). Runs the FULL registered sweep twice in
# separate JVMs — fresh DfCache, fresh /tmp layout tables — and diffs
# every output cell-exact. Part of the round gate next to check.py.
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
sbt -batch "runMain graft.Verify $SF_DIR $A" > /tmp/graft_det_a.log 2>&1
sbt -batch "runMain graft.Verify $SF_DIR $B" > /tmp/graft_det_b.log 2>&1
python3 scripts/determinism.py "$A" "$B"
