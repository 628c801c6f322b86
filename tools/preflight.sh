#!/usr/bin/env bash
# Pre-commit preflight (VERDICT r8 "next" #2): round 8 lost its entire
# driver scorecard to a snapshot commit whose new code had never been
# compiled. This gate makes that impossible to repeat cheaply:
#
#   tools/preflight.sh          # compile main+test, oracle-check touched queries
#   tools/preflight.sh --all    # ... oracle-check the WHOLE registry (sf0.001)
#
# 1. `sbt compile` + `Test/compile` — a from_json-overload-class error
#    exits non-zero HERE, before any commit exists. Then
#    `tools/reach.py` fails on any public main name that only the
#    specs reach and that its allowlist does not explain.
# 2. Every query whose defining file changed since HEAD (staged or
#    not) is re-run through Verify at sf0.001 and hash-compared with
#    its DuckDB oracle via tools/check.py. New queries are picked up
#    by their Q.of("name") literal, so registering a query in the same
#    commit that creates it is exactly the case this covers. A touched
#    file that defines no query (an operator, a core file, a deleted
#    file) can reach any query, so then the whole registry is checked.
# Rule of use (SURVEY §6(e)): run before EVERY commit that touches
# src/main; the end-of-round snapshot must never be the first compile.
set -euo pipefail
cd "$(dirname "$0")/.."

SF=${PREFLIGHT_SF:-/root/testdata/sf0.001}
VDIR=/tmp/graft_preflight

echo "== preflight: compile (main + test) =="
sbt -batch compile Test/compile

echo "== preflight: registry reachability =="
python3 tools/reach.py

if [[ "${1:-}" == "--all" ]]; then
  QUERIES=""
else
  # query names defined in files touched since the last commit —
  # including UNTRACKED files (a brand-new query file is invisible to
  # `git diff HEAD`, which is exactly the r9 q121 near-miss)
  CHANGED=$( (git diff HEAD --name-only -- 'src/main/scala';
              git ls-files --others --exclude-standard -- 'src/main/scala') | sort -u || true)
  if [[ -z "$CHANGED" ]]; then
    echo "== preflight: no src/main changes — compile-only gate PASSED =="
    exit 0
  fi
  # query-name literals anywhere in the touched files (Q.of's name
  # argument sits on its own line, so match the literal shape, not the
  # call site; over-matching is safe — check.py skips names without an
  # oracle entry and Verify filters to registered names)
  QUERIES=$(grep -hoE '"q[0-9]+[a-z]?_[a-z0-9_]+"' $CHANGED 2>/dev/null \
    | tr -d '"' | sort -u | tr '\n' ' ') || true
  for f in $CHANGED; do
    if ! grep -qE 'Q\.(of|rowsOnly)\(' "$f" 2>/dev/null; then
      # no query defined here: its dependents are unknown, so
      # re-verify the whole registry
      QUERIES=""
      break
    fi
  done
  echo "== preflight: touched queries: ${QUERIES:-<all — core change>} =="
fi

echo "== preflight: Verify @ $SF =="
# shellcheck disable=SC2086
sbt -batch "runMain graft.Verify $SF $VDIR $QUERIES"

echo "== preflight: DuckDB oracle compare =="
# shellcheck disable=SC2086
python3 tools/check.py "$SF" "$VDIR" $QUERIES
echo "== preflight PASSED =="
