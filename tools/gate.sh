#!/usr/bin/env bash
# ONE-COMMAND VERIFICATION GATE — the full pre-commit battery behind a
# single exit code, so a driver or CI runs exactly one thing:
#
#   tools/gate.sh [sfDir]        # default /root/testdata/sf0.01
#
# Chains, failing fast on the first red:
#   0. perfbench/build.py       — the benchmark's sources compile against
#                                 the program (tier-1 never compiles
#                                 perfbench/, so an API change that breaks
#                                 the benchmark's calls fails here)
#   1. sbt test                 — every ScalaTest suite (streaming,
#                                 property, plan-shape, spill specs)
#   2. graft.EntrySmoke         — flagship query returns rows at sf0.001
#   3. graft.Verify + check.py  — all registered queries dumped and
#                                 compared against the DuckDB oracle
#                                 (rows + schema + stringified-cell hash,
#                                 the driver's exact discipline)
#   4. graft.tools.PlanGate     — plan shapes vs the committed audit
#                                 (exit 1 on shuffle/scan growth, an
#                                 unaudited query, a query that no
#                                 longer plans, or an audit row count
#                                 that differs from the query registry)
#
# The scale soak (graft.tools.ScaleSoak) stays a separate, deliberate
# invocation: it runs minutes-to-hours by design and its output is
# measurement evidence for BASELINE.md, not a pass/fail gate.
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft-gate.XXXXXX)"
trap 'rm -rf "$OUT"' EXIT

echo "== gate 0/4: benchmark compiles against the program =="
python3 perfbench/build.py

echo "== gate 1/4: sbt test =="
sbt -batch test

echo "== gate 2/4: entry smoke =="
ROWS="$(sbt -batch "runMain graft.EntrySmoke" 2>/dev/null | grep -o 'ENTRY_ROWS=[0-9]*' | cut -d= -f2)"
[ -n "$ROWS" ] && [ "$ROWS" -gt 0 ] || { echo "FAIL: entry smoke returned '$ROWS' rows"; exit 1; }
echo "ENTRY_ROWS=$ROWS"

echo "== gate 3/4: oracle correctness at $SF =="
sbt -batch "runMain graft.Verify $SF $OUT"
python3 tools/check.py "$SF" "$OUT"

echo "== gate 4/4: plan-shape regression gate =="
sbt -batch "runMain graft.tools.PlanGate"

echo "== GATE GREEN =="
