#!/usr/bin/env bash
# graft doctor — the full round gate in one command:
#   1. sbt test            (ScalaTest suite)
#   2. Verify @ sf0.01     (dump every registry query + oracle_sql.json)
#   3. oracle_check.py     (DuckDB compare — the driver's correctness gate)
#   4. Bench @ sf0.1       (headline JSON line + BENCH_FULL.json)
#   5. perturb drift gate  (ScaleSmoke 30 all perturb once vs recorded
#      baseline — the unbounded-join detector; skip: GRAFT_SKIP_PERTURB=1)
# Exits non-zero on the first failing stage. Builder-side tooling: the
# DuckDB stage mirrors the driver's gate and is NOT part of the shipped
# library (python/duckdb are driver-side only).
set -uo pipefail
cd "$(dirname "$0")/.."

echo "== doctor 0/5: round-open artifact hygiene"
bash scripts/round_open.sh || { echo "doctor: ROUND-OPEN FAILED"; exit 1; }

SF_VERIFY=${SPARK_GRAFT_VERIFY_SF:-/root/testdata/sf0.01}
SF_BENCH=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
VOUT=${SPARK_GRAFT_VERIFY_OUT:-/tmp/graft_doctor_vout}

echo "== doctor 1/5: sbt test"
sbt -batch test 2>&1 | tail -5
[ "${PIPESTATUS[0]}" -ne 0 ] && { echo "doctor: TESTS FAILED"; exit 1; }

echo "== doctor 2/5: Verify @ $SF_VERIFY"
rm -rf "$VOUT"
vlog=$(mktemp)
sbt -batch "runMain graft.Verify $SF_VERIFY $VOUT" >"$vlog" 2>&1
vstatus=$?
grep -E '\[verify\]' "$vlog" | tail -3
if [ "$vstatus" -ne 0 ] || grep -q '\[verify\].*failed' "$vlog"; then
  echo "doctor: VERIFY FAILED"; exit 1
fi

echo "== doctor 3/5: DuckDB oracle compare"
python3 scripts/oracle_check.py "$SF_VERIFY" "$VOUT" | tail -3
[ "${PIPESTATUS[0]}" -ne 0 ] && { echo "doctor: ORACLE MISMATCH"; exit 1; }

echo "== doctor 4/5: Bench @ $SF_BENCH"
blog=$(mktemp)
SPARK_GRAFT_SF_DIR="$SF_BENCH" sbt -batch "runMain graft.Bench" >"$blog" 2>&1
bstatus=$?
# the bench line leads with "queries" and puts metric/total at the END
# (Bench.scala's driver-window discipline) and carries an [info] prefix
# only when sbt logs through a pty — match the metric key anywhere
headline=$(grep -E '"metric":"total"' "$blog" | sed 's/^\[info\] //' | tail -1)
echo "$headline"
if [ "$bstatus" -ne 0 ] || [ -z "$headline" ] ||
   grep -q '\[bench\].*failed' "$blog"; then
  echo "doctor: BENCH FAILED"; exit 1
fi
echo "== doctor 5/6: perturb drift gate @ p30"
if [ "${GRAFT_SKIP_PERTURB:-0}" = "1" ]; then
  echo "doctor: perturb gate SKIPPED (GRAFT_SKIP_PERTURB=1)"
else
  plog=$(mktemp)
  SPARK_GRAFT_SF_DIR="$SF_BENCH" sbt -batch \
    "Test/runMain graft.ScaleSmoke 30 all perturb reuse once json=/tmp/graft_perturb_p30.json" \
    >"$plog" 2>&1
  pstatus=$?
  grep -E '\[scale\] (corpus ready|reusing|walls written)' "$plog"
  [ "$pstatus" -ne 0 ] && { echo "doctor: PERTURB SWEEP FAILED"; tail -5 "$plog"; exit 1; }
  # exponent leg (r16): re-measure the heavy ops at p10 and gate on the
  # p10->p30 scaling exponent — host-speed-independent, so a >3x-slower
  # host can fall back to GRAFT_PERTURB_EXP_ONLY=1 without losing the
  # unbounded-join detector. Heavies = ops with a recorded p30 wall >= 2 s
  # (below that, single-run noise swamps the exponent).
  EXPARGS=""
  if [ -f scripts/perturb_p10_baseline.json ]; then
    heavies=$(python3 -c "import json; d=json.load(open('scripts/perturb_p30_baseline.json')); print(' '.join(sorted(k for k,v in d.items() if not k.startswith('_') and float(v)>=2.0)))")
    # an empty heavies list would hand ScaleSmoke NO op filter — a silent
    # full-registry p10 sweep whose light-op rows carry no exponent signal
    # (r16 advice); skip the leg loudly instead, like the missing-baseline
    # branch above
    if [ -z "$heavies" ]; then
      echo "doctor: no p30 baseline row >= 2 s — exponent leg skipped (re-record baselines)"
    else
    elog=$(mktemp)
    SPARK_GRAFT_SF_DIR="$SF_BENCH" sbt -batch \
      "Test/runMain graft.ScaleSmoke 10 $heavies perturb reuse once json=/tmp/graft_perturb_p10.json" \
      >"$elog" 2>&1
    estatus=$?
    grep -E '\[scale\] (corpus ready|reusing|walls written)' "$elog"
    [ "$estatus" -ne 0 ] && { echo "doctor: P10 SWEEP FAILED"; tail -5 "$elog"; exit 1; }
    EXPARGS="--exp scripts/perturb_p30exp_baseline.json scripts/perturb_p10_baseline.json /tmp/graft_perturb_p10.json"
    fi
  else
    echo "doctor: no p10 baseline recorded — exponent leg skipped"
  fi
  python3 scripts/perturb_check.py scripts/perturb_p30_baseline.json \
    /tmp/graft_perturb_p30.json $EXPARGS || { echo "doctor: PERTURB DRIFT"; exit 1; }
fi

echo "== doctor 6/6: skew drift gate @ p30-skew"
if [ "${GRAFT_SKIP_PERTURB:-0}" = "1" ]; then
  echo "doctor: skew gate SKIPPED (GRAFT_SKIP_PERTURB=1)"
else
  slog=$(mktemp)
  SPARK_GRAFT_SF_DIR="$SF_BENCH" sbt -batch \
    "Test/runMain graft.ScaleSmoke 30 all perturb skew reuse once json=/tmp/graft_perturb_p30s.json" \
    >"$slog" 2>&1
  sstatus=$?
  grep -E '\[scale\] (corpus ready|reusing|walls written)' "$slog"
  [ "$sstatus" -ne 0 ] && { echo "doctor: SKEW SWEEP FAILED"; tail -5 "$slog"; exit 1; }
  # skew exponent leg (r17, verdict r16 #6): p10-skew re-measure of the
  # skew heavies so a skew-only superlinearity on a slow host can't hide
  # behind GRAFT_PERTURB_EXP_ONLY — same pairing discipline as step 5
  # (run exponent = this session's p10s vs p30s; baseline exponent = the
  # same-session recorded pair p10_skew/p30s_exp).
  SEXPARGS=""
  if [ -f scripts/perturb_p10_skew_baseline.json ]; then
    sheavies=$(python3 -c "import json; d=json.load(open('scripts/perturb_p30_skew_baseline.json')); print(' '.join(sorted(k for k,v in d.items() if not k.startswith('_') and float(v)>=2.0)))")
    if [ -z "$sheavies" ]; then
      echo "doctor: no p30-skew baseline row >= 2 s — skew exponent leg skipped"
    else
    selog=$(mktemp)
    SPARK_GRAFT_SF_DIR="$SF_BENCH" sbt -batch \
      "Test/runMain graft.ScaleSmoke 10 $sheavies perturb skew reuse once json=/tmp/graft_perturb_p10s.json" \
      >"$selog" 2>&1
    sestatus=$?
    grep -E '\[scale\] (corpus ready|reusing|walls written)' "$selog"
    [ "$sestatus" -ne 0 ] && { echo "doctor: P10-SKEW SWEEP FAILED"; tail -5 "$selog"; exit 1; }
    SEXPARGS="--exp scripts/perturb_p30s_exp_baseline.json scripts/perturb_p10_skew_baseline.json /tmp/graft_perturb_p10s.json"
    fi
  else
    echo "doctor: no p10-skew baseline recorded — skew exponent leg skipped"
  fi
  python3 scripts/perturb_check.py scripts/perturb_p30_skew_baseline.json \
    /tmp/graft_perturb_p30s.json $SEXPARGS || { echo "doctor: SKEW DRIFT"; exit 1; }
fi

# opt-in: streaming-state drift gate (slow; mirrors GRAFT_SOAK's gating)
if [ "${GRAFT_SOAK:-0}" = "1" ]; then
  echo "== doctor 7 (opt-in): streaming soak drift gate"
  GRAFT_SOAK=1 GRAFT_SOAK_JSON=/tmp/graft_soak.json sbt -batch \
    'testOnly graft.StreamingSoakSpec' >/dev/null 2>&1 \
    || { echo "doctor: STREAMING SOAK FAILED"; exit 1; }
  python3 scripts/soak_check.py scripts/soak_baseline.json /tmp/graft_soak.json \
    || { echo "doctor: STREAMING SOAK DRIFT"; exit 1; }
fi

# opt-in: decade-scale skew soak (slower still; p100-skew quartet)
if [ "${GRAFT_SOAK_DECADE:-0}" = "1" ]; then
  echo "== doctor 8 (opt-in): decade skew soak drift gate"
  GRAFT_SOAK_DECADE=1 GRAFT_SOAK_JSON=/tmp/graft_soak_p100.json sbt -batch \
    'testOnly graft.StreamingSoakSpec' >/dev/null 2>&1 \
    || { echo "doctor: DECADE SOAK FAILED"; exit 1; }
  python3 scripts/soak_check.py scripts/soak_p100_baseline.json /tmp/graft_soak_p100.json \
    || { echo "doctor: DECADE SOAK DRIFT"; exit 1; }
fi
echo "doctor: ALL GATES GREEN (tests, verify, oracle, bench, perturb, skew)"
