#!/usr/bin/env bash
# Scripted round-close ritual (r11 verdict item 5). Before this existed
# the close evidence — closing bench, static-plan audits at both SFs,
# conf-parity arms, triple-SF sweep — was hand-sequenced each round, and
# the ~hours of sweep/test JVMs degrade the host BEFORE the most
# timing-sensitive step if the bench runs last (the r10/r11 closes both
# landed at the wide end of the quiet envelope for exactly this reason;
# the r11 driver bench found quiet only because it ran in a fresh window).
#
# Ordering is therefore MOST-CONTENTION-SENSITIVE FIRST:
#   1. closing bench      — wall-clock timing; wants the freshest host.
#   2. audits             — graft.tools.Audits, the seven static-plan audits
#                           in one JVM per SF, at sf0.001 AND sf0.1 (plans
#                           may differ across SFs via stats); fails on any
#                           OFFENDER/FAILED line; insensitive to host state.
#   3. conf-parity arms   — result-identity under 11 conf regimes at
#                           sf0.01; correctness, not timing.
#   4. triple-SF sweep    — full Verify + DuckDB oracle at all three
#                           clean SFs; the heaviest/degrading step, last.
#
# Each step appends one line to the summary; the script prints the
# summary block at the end and exits with the number of failed steps.
# Timing numbers from step 1 are trustworthy; any bench re-run AFTER
# steps 2-4 is not (jitter doctrine) — compare via BENCH_HISTORY mins.
#
# r13 additions (r12 verdict items 2 and 4):
#   - QUIET-BAND GUARD on step 1: the closing bench total is compared
#     against p90 of same-protocol BENCH_HISTORY totals (min 3 lines to
#     establish a band). Above the band -> 120 s cooldown, ONE re-run;
#     still above -> the summary carries an explicit DEGRADED-WINDOW
#     stamp (the r12 artifact shipped 93.6 s from a degraded window
#     while 73.4/67.9 s runs of the same code existed — never again
#     without a stamp).
#   - Optional step `grown`: GrowCorpus x8 over sf0.1 (FK-consistent,
#     ~sf0.8), full Verify + DuckDB compare. Green gate = 137/138 + the
#     one EXPECTED diff (q_winsorize: engine-defined exact-percentile
#     FP-algebra identity at a 40-row tie block — diagnosed BASELINE
#     r12); any OTHER failing query fails the step. The grown corpus
#     caught the CDC key-space collision and the cteRecursionRowLimit
#     fence in r12; it runs per-round now, not once. Not in the default
#     step list (it is the heaviest step) — close with:
#       tools/close.sh bench audits parity sweep grown
#
# Usage: tools/close.sh [step ...]   steps: bench audits parity sweep grown
#   (default: bench audits parity sweep, in the order above)
#   SPARK_GRAFT_CPUS sets parallelism for audits/parity/sweep (default 8;
#   the bench always runs at 32 — the protocol's fixed shape).
set -uo pipefail
cd "$(dirname "$0")/.."
steps=("$@")
[ ${#steps[@]} -eq 0 ] && steps=(bench audits parity sweep)
cpus="${SPARK_GRAFT_CPUS:-8}"
declare -a summary
fails=0

note() { summary+=("$1"); echo "CLOSE: $1"; }

# p90 of same-SHAPE totals in BENCH_HISTORY, WINDOW-NORMALIZED (r14):
# protocol AND sf AND reps must match the close bench's fixed shape
# (r13 ADVICE: history mixes sf0.001 'local' runs with sf0.1 close runs
# — an unfiltered band can be skewed low, stamping quiet runs DEGRADED,
# or high, loosening the guard). Each total is divided by its line's
# window_index before the band is built, and run_bench compares the
# run's NORMALIZED total against it: the r14 session measured raw
# totals 96.9->147.4 (1.52x) collapsing to 88->107 normalized (±10%),
# so a raw-total band conflates host windows with plan regressions —
# exactly what this guard must separate. Empty when fewer than 3
# matching lines exist.
#
# Basket literal (re-frozen r16 with Bench.scala — see the windowBasket
# scaladoc for the calibration record): the band must read ONE yardstick,
# but history lines carry window_index values stamped by whichever basket
# constants were live when they ran (pre- vs post-r16 lines mix two
# calibrations). quiet_p90 therefore RE-NORMALIZES every line from its
# own per-query medians with the CURRENT constants, and only falls back
# to the stored index when the per-query map is absent. This literal must
# match Bench.scala's windowBasket (DriftSpec checks it).
WINDOW_BASKET='{"q_project":0.767,"q_filter":0.319,"q_math":0.736,"q_str":0.310,"q_case":0.365,"q_date":0.340,"q_array":0.341,"q_map":1.032,"q_sort":0.553,"q_agg_pricing":0.462,"q_win_lag":0.668,"q_union":0.376}'
export WINDOW_BASKET
quiet_p90() {
  python3 - <<'PY'
import json, os, statistics
proto = "pass-major-median-v2-noop"
basket = json.loads(os.environ["WINDOW_BASKET"])
def widx(d):
    qs = d.get("queries", {})  # re-normalize on the CURRENT basket
    rs = [qs[q] / c for q, c in basket.items() if qs.get(q, 0) > 0]
    if rs:
        return statistics.median(rs)
    w = d.get("window_index")  # fallback: stored (mixed-calibration) index
    return w if isinstance(w, (int, float)) and w > 0 else None
totals = []
try:
    for d in map(json.loads, open("BENCH_HISTORY.jsonl")):
        if (d.get("protocol") == proto and isinstance(d.get("value"), float)
                and d.get("sf") == "/root/testdata/sf0.1"
                and d.get("reps") == 3):
            w = widx(d)
            if w: totals.append(d["value"] / w)
except FileNotFoundError:
    pass
totals.sort()
if len(totals) >= 3:
    print(f"{totals[min(len(totals) - 1, int(0.9 * len(totals)))]:.1f}")
PY
}

# normalized total of the CURRENT run: prefers the line's own
# normalized_total (stamped by Bench since r15), falls back to
# value / window_index. Prints NOTHING on a parse failure — run_bench
# treats an empty result as a hard step failure (r14 ADVICE: the old
# empty-on-error behavior silently disabled the quiet-band guard via
# awk comparing an empty string as 0).
norm_total() {  # $1 = bench total line
  python3 - "$1" <<'PY'
import json, sys
d = json.loads(sys.argv[1])
nt = d.get("normalized_total")
if isinstance(nt, (int, float)) and nt > 0:
    print(f"{nt:.1f}")
else:
    w = d.get("window_index", -1)
    print(f"{d['value'] / w:.1f}" if isinstance(w, (int, float)) and w > 0
          else f"{d['value']:.1f}")
PY
}

# Normalized watch-threshold check (r15, r14 verdict item 2): the
# per-query done-criteria thresholds (BASELINE r13, re-based for v2)
# were validated against host windows of index ~1.0-1.25, and the r14
# session saw a 1.45-index window push q_record_linkage to 4.97 vs its
# 5.0 threshold — pure host speed. The totals guard already compares
# normalized values; this check divides each watch value by the run's
# window_index before comparing, so a breach is a PLAN-SHAPED
# regression and fails the step (a raw-value graze from a slow host no
# longer can). Thresholds themselves stay as written. The
# topk_group <= 2x topk_group_native criterion is a ratio — index
# cancels — so it is checked raw.
watch_check() {  # $1 = summary/watch json fragment, $2 = window_index
  python3 - "$1" "$2" <<'PY'
import json, sys
w = json.loads(sys.argv[1])
try:
    widx = float(sys.argv[2])
except ValueError:
    widx = -1.0
if widx <= 0:
    widx = 1.0   # non-sf0.1 shapes carry -1; compare raw
TH = {"q_dedup_ngram": 6.0, "q_dedup_embed": 3.0, "q_record_linkage": 5.0,
      "q_cube": 1.5, "q_dedup_clusters": 4.5}
bad = [f"{q}={v:.2f}/{widx:.3f}={v / widx:.2f}>{TH[q]}"
       for q, v in w.items() if q in TH and v / widx > TH[q]]
tg, tgn = w.get("q_topk_group"), w.get("q_topk_group_native")
if tg is not None and tgn is not None and tgn > 0 and tg > 2 * tgn:
    bad.append(f"q_topk_group={tg:.2f}>2x native {tgn:.2f}")
print(" ".join(bad))
PY
}

bench_once() {
  local log; log=$(mktemp)
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_REPS=3 SPARK_GRAFT_BENCH_SRC=close \
    sbt --batch "runMain graft.Bench" >"$log" 2>&1
  local rc=$?
  bench_total_line=$(grep -o '{"metric":"total".*}' "$log" | tail -1)
  bench_watch_line=$(grep -o '"watch":{[^}]*}' "$log" | tail -1)
  rm -f "$log"
  [ $rc -eq 0 ] && [ -n "$bench_total_line" ]
}

run_bench() {
  # capture the band BEFORE the run: each bench appends its own line to
  # BENCH_HISTORY, and a band computed afterwards would include the run
  # under test (self-inclusion lets a degraded run ratify itself)
  local p90 total
  p90=$(quiet_p90)
  if ! bench_once; then
    note "bench: FAILED"; fails=$((fails+1)); return
  fi
  total=$(norm_total "$bench_total_line")
  if [ -z "$total" ]; then
    note "bench: NORM-TOTAL PARSE FAILED on total line — guard cannot run (line: $bench_total_line)"
    fails=$((fails+1)); return
  fi
  if [ -n "$p90" ] && awk -v t="$total" -v b="$p90" 'BEGIN{exit !(t>b)}'; then
    note "bench: normalized $total s above quiet-band normalized p90 ($p90 s) — cooldown 120 s, one re-run"
    sleep 120
    if ! bench_once; then
      note "bench re-run: FAILED"; fails=$((fails+1)); return
    fi
    total=$(norm_total "$bench_total_line")
    if [ -z "$total" ]; then
      note "bench re-run: NORM-TOTAL PARSE FAILED (line: $bench_total_line)"
      fails=$((fails+1)); return
    fi
    if awk -v t="$total" -v b="$p90" 'BEGIN{exit !(t>b)}'; then
      note "bench: DEGRADED stamp — re-run normalized $total s still above normalized p90 $p90 s; window_index already discounts host speed, so this is a PLAN-SHAPED regression signal, not a host window"
    fi
  fi
  note "bench: $bench_total_line"
  [ -n "$bench_watch_line" ] && echo "CLOSE: bench $bench_watch_line"
  # normalized watch thresholds (r15): a breach after host-speed
  # normalization is a plan regression — fail the step
  if [ -n "$bench_watch_line" ]; then
    local widx breaches
    widx=$(python3 -c 'import json,sys; d=json.loads(sys.argv[1]); print(d.get("window_index",-1))' "$bench_total_line" 2>/dev/null)
    breaches=$(watch_check "${bench_watch_line#\"watch\":}" "${widx:--1}")
    if [ -n "$breaches" ]; then
      note "bench: WATCH BREACH (normalized): $breaches"
      fails=$((fails+1))
    else
      note "bench: watch normalized-check clean (window_index ${widx:-?})"
    fi
  fi
}

run_audits() {
  local sf log rc line
  for sf in /root/testdata/sf0.001 /root/testdata/sf0.1; do
    log=$(mktemp)
    SPARK_GRAFT_CPUS="$cpus" \
      sbt --batch "runMain graft.tools.Audits $sf" >"$log" 2>&1
    rc=$?
    line=$(grep -o '{"metric":"audits".*}' "$log" | tail -1)
    if [ $rc -ne 0 ] || [ -z "$line" ]; then
      # the rule is CI's (AuditsSpec): any offender or failure fails
      note "audits @$sf: FAILED (rc=$rc) ${line}"
      grep -E '^(OFFENDER|FAILED) ' "$log" | head -10 | sed 's/^/CLOSE:   /'
      [ -z "$line" ] && tail -5 "$log"
      fails=$((fails+1))
    else
      note "audits @$sf: $line"
    fi
    rm -f "$log"
  done
}

run_parity() {
  local log; log=$(mktemp)
  SPARK_GRAFT_CPUS="$cpus" \
    sbt --batch "runMain graft.tools.ConfParity /root/testdata/sf0.01" \
    >"$log" 2>&1
  local rc=$?
  local line
  line=$(grep -o '{"metric":"confparity".*}' "$log" | tail -1)
  if [ $rc -ne 0 ] || [ -z "$line" ]; then
    note "parity: FAILED (rc=$rc)"; tail -5 "$log"; fails=$((fails+1))
  else
    note "parity: $line"
  fi
  rm -f "$log"
}

run_sweep() {
  local log; log=$(mktemp)
  SPARK_GRAFT_CPUS="$cpus" tools/sweep.sh \
    /root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1 \
    >"$log" 2>&1
  local rc=$?
  if [ $rc -ne 0 ]; then
    note "sweep: $rc corpora with failures"; grep '^SWEEP' "$log"
    fails=$((fails+1))
  else
    note "sweep: $(grep '^SWEEP' "$log" | tr '\n' '; ')"
  fi
  rm -f "$log"
}

run_grown() {
  # GRAFT_GROWN_FACTOR overrides the factor; otherwise it ROTATES on
  # round parity (r14 verdict item 6): odd rounds x16, even rounds x8,
  # so both classifier classes stay exercised — r2-cent-boundary needs
  # x16-volume sums to straddle a half-cent boundary, while x8 is the
  # cheaper routine octave. Unknown round -> x8.
  local gf="${GRAFT_GROWN_FACTOR:-}"
  if [ -z "$gf" ]; then
    local rnd="${SPARK_GRAFT_ROUND:-0}"
    case "$rnd" in (*[!0-9]*|'') rnd=0;; esac
    if [ $((rnd % 2)) -eq 1 ]; then gf=16; else gf=8; fi
  fi
  local gdir="/tmp/graft-grown-x$gf" out log rc
  out=$(mktemp -d /tmp/graft_grown_verify.XXXXXX)
  log=$(mktemp)
  if ! SPARK_GRAFT_CPUS="$cpus" \
      sbt --batch "runMain graft.tools.GrowCorpus /root/testdata/sf0.1 $gdir $gf" \
      >"$log" 2>&1; then
    note "grown: GROW FAILED"; tail -5 "$log"; fails=$((fails+1))
    rm -f "$log"; return
  fi
  # Verify log PRESERVED at a fixed path (r14: the x16 run's one-off
  # q_substring_dup transient — absent output, clean on two full
  # re-runs — died undiagnosable because this step used to rm its log;
  # the NEXT transient must be readable post-hoc)
  local vlog=/tmp/graft_grown_verify_last.log
  if ! SPARK_GRAFT_CPUS="$cpus" \
      sbt --batch "runMain graft.Verify $gdir $out" >"$vlog" 2>&1; then
    note "grown: VERIFY FAILED (log kept: $vlog)"; tail -5 "$vlog"
    fails=$((fails+1)); return
  fi
  python3 tools/check.py "$gdir" "$out" >"$log" 2>&1
  rc=$?
  local failqs
  failqs=$(grep '^FAIL' "$log" | awk '{print $2}' | sed 's/:$//' | sort -u)
  # a nonzero exit with NO FAIL lines is a comparator crash (traceback),
  # not a green run — before r14 this reported 138/138 (r13 ADVICE)
  if [ $rc -ne 0 ] && [ -z "$failqs" ]; then
    note "grown: CHECK FAILED (rc=$rc, zero FAIL lines — comparator crashed, not green)"
    tail -5 "$log" | sed 's/^/CLOSE:   /'
    fails=$((fails+1)); rm -f "$log"; return
  fi
  # Expected-diff gate, per-query classification — extracted to
  # tools/classify_grown.py (r15; selftested incl. negative controls):
  #  - fp-percentile-tie: q_winsorize ONLY, and since r15 SIGNATURE-
  #    matched (n_clipped small-int delta / mean_wins r6 flip) instead
  #    of by name — any other q_winsorize failure shape fails the gate.
  #  - r2-cent-boundary: EVERY FAIL cell for the query is a one-cent
  #    diff on an r2-rounded double aggregate; the all-cells condition
  #    is real since r15 (check.py emits every mismatched cell, and a
  #    capped NOTE voids classification).
  # Classified queries report as CLASSIFIED, never as green.
  local classified
  classified=$(python3 tools/classify_grown.py "$log")
  local unexpected="" q
  for q in $failqs; do
    case " $classified " in
      *" $q="*) ;;
      *) unexpected="$unexpected $q" ;;
    esac
  done
  unexpected="${unexpected# }"
  if [ -z "$failqs" ]; then
    note "grown: 138/138 green at x$gf (no expected-diff class even fired)"
  elif [ -z "$unexpected" ]; then
    local nclass; nclass=$(echo "$failqs" | wc -l)
    note "grown: green-gated $((138-nclass))/138 + $nclass classified at x$gf ($classified)"
  else
    note "grown: UNEXPECTED failures: $unexpected (classified: ${classified:-none})"
    grep '^FAIL' "$log" | head -5 | sed 's/^/CLOSE:   /'
    fails=$((fails+1))
  fi
  rm -f "$log"
}

for s in "${steps[@]}"; do
  case "$s" in
    bench)  run_bench ;;
    audits) run_audits ;;
    parity) run_parity ;;
    sweep)  run_sweep ;;
    grown)  run_grown ;;
    *) echo "unknown step: $s (want bench|audits|parity|sweep|grown)"; exit 2 ;;
  esac
done

echo "== close summary =="
printf '%s\n' "${summary[@]}"
exit "$fails"
