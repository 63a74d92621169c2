#!/usr/bin/env bash
# Full-surface differential sweep over a list of corpora (r8 verdict
# item 7 made this a per-round ritual; this script makes it one command
# instead of an ad-hoc loop that each session re-invents).
#
# For each corpus dir: run graft.Verify (all 138 queries -> parquet +
# oracle_sql.json) then tools/check.py (DuckDB oracle compare: columns,
# canonicalized arrow types, row count, cell-exact values). A corpus also
# fails if its Verify log has any "replaced a previously registered
# function" line: graft functions enter a session once, through
# GraftExtensions, so a replacement means something re-registers one.
# Prints one tally line per corpus and a final summary; exit code =
# number of corpora with any failing query.
#
# Usage: tools/sweep.sh <corpusDir> [corpusDir ...]
#   CPUS: SPARK_GRAFT_CPUS (default 8)
set -uo pipefail
cd "$(dirname "$0")/.."
cpus="${SPARK_GRAFT_CPUS:-8}"
bad=0
summary=()
for sf in "$@"; do
  out=$(mktemp -d /tmp/graft_sweep.XXXXXX)
  log=$(mktemp)
  if ! SPARK_GRAFT_CPUS="$cpus" \
      sbt --batch "runMain graft.Verify $sf $out" >"$log" 2>&1; then
    echo "SWEEP $sf: VERIFY FAILED"; tail -5 "$log"
    bad=$((bad + 1)); summary+=("$sf: verify-failed")
    rm -rf "$out" "$log"; continue
  fi
  nrepl=$(grep -c 'replaced a previously registered function' "$log" || true)
  python3 tools/check.py "$sf" "$out" > "$log" 2>&1
  rc=$?
  nok=$(grep -c '^OK' "$log" || true)
  nfail=$(grep -c '^FAIL' "$log" || true)
  if [ "$rc" -eq 0 ] && [ "$nfail" -eq 0 ] && [ "$nrepl" -eq 0 ]; then
    echo "SWEEP $sf: $nok OK, 0 FAIL, 0 replaced"
    summary+=("$sf: $nok OK, 0 FAIL, 0 replaced")
  else
    echo "SWEEP $sf: $nok OK, $nfail FAIL, $nrepl replaced (rc=$rc)"
    grep -m 20 '^FAIL' "$log" || tail -5 "$log"
    bad=$((bad + 1)); summary+=("$sf: $nok OK, $nfail FAIL, $nrepl replaced")
  fi
  rm -rf "$out" "$log"
done
echo "== sweep summary =="
printf '%s\n' "${summary[@]}"
exit "$bad"
