#!/bin/bash
# 3-SF oracle sweep -> ORACLE_LOCAL.md (the local-evidence record for
# the queries outside the driver's bounded 50-query window).
#
# Failure-honest: check_oracle's exit status is recorded per SF, stderr
# goes to a log file (not /dev/null), and a crashed run writes an
# explicit SWEEP-ERROR marker instead of an empty section that could
# read as passing evidence.
set -u
cd "$(dirname "$0")/.."
OUT=ORACLE_LOCAL.md
ERRLOG=/tmp/oracle_sweep_err.log
: > "$ERRLOG"
overall=0
{
  echo "# ORACLE_LOCAL — full-registry oracle sweep (local replica of the driver gate)"
  echo
  echo "Generated by \`tools/oracle_sweep.sh\` on $(date -u +%Y-%m-%dT%H:%M:%SZ)"
  echo "at git $(git rev-parse --short HEAD 2>/dev/null || echo '?')."
  echo "Run as the LAST step of the round, after the final code commit —"
  echo "the commit adding/updating THIS FILE is the only change after the"
  echo "stamped sha, so the sweep's evidence matches the round-end tree."
  echo "Same comparison as the driver: row count + column names +"
  echo "order-insensitive value hash vs DuckDB, every registered query."
  echo
} > "$OUT"
for sf in sf0.001 sf0.01 sf0.1; do
  echo "## $sf" >> "$OUT"
  echo >> "$OUT"
  echo '```' >> "$OUT"
  CHECK_SF_DIR=/root/testdata/$sf PYTHONPATH=/root/repo \
    python tools/check_oracle.py >> "$OUT" 2>> "$ERRLOG"
  rc=$?
  if [ "$rc" -ne 0 ]; then
    overall=$rc
    echo "SWEEP-ERROR: check_oracle.py exited rc=$rc for $sf (stderr tail below)" >> "$OUT"
    tail -5 "$ERRLOG" >> "$OUT"
  fi
  echo '```' >> "$OUT"
  echo >> "$OUT"
done
# ANSI-ON laps (round-6, VERDICT r5 ask #1c; round-7 adds sf0.1 per
# VERDICT r6 ask #4): materialize EVERY registered query under a
# deliberately vanilla driver-like session — ANSI forced on, 200
# shuffle partitions, no nanosAsLong, non-UTC tz — so an
# environment-conditional crash (the r5 q_tpf_intradia failure mode)
# can never again hide behind the engine session factory. sf0.1
# matters independently of sf0.01: AQE decisions and broadcast
# thresholds flip with data volume, so conf-sensitive behavior could
# hide behind small data.
for ansi_sf in sf0.01 sf0.1; do
  {
    echo "## ANSI-on vanilla-session lap (full registry, $ansi_sf)"
    echo
    echo '```'
  } >> "$OUT"
  PYIELD_TEST_SF_DIR=/root/testdata/$ansi_sf PYTHONPATH=/root/repo \
    python -m pytest tests/test_vanilla_session.py -q -p no:cacheprovider \
    >> "$OUT" 2>> "$ERRLOG"
  rc=$?
  if [ "$rc" -ne 0 ]; then
    overall=$rc
    echo "SWEEP-ERROR: ANSI-on lap ($ansi_sf) exited rc=$rc (stderr tail below)" >> "$OUT"
    tail -5 "$ERRLOG" >> "$OUT"
  fi
  {
    echo '```'
    echo
  } >> "$OUT"
done
# Reliable-pin lap: the full registry once more at check_oracle.py's
# default scale factor (sf0.01) with every lineage cut checkpointed into
# a fresh directory instead of executor local storage, so
# SPARK_GRAFT_PIN_MODE=reliable stays verified.
ckdir=$(mktemp -d)
{
  echo "## SPARK_GRAFT_PIN_MODE=reliable lap (full registry, sf0.01)"
  echo
  echo '```'
} >> "$OUT"
env -u CHECK_SF_DIR SPARK_GRAFT_PIN_MODE=reliable SPARK_GRAFT_CHECKPOINT_DIR="$ckdir" \
  PYTHONPATH="$PWD" python tools/check_oracle.py >> "$OUT" 2>> "$ERRLOG"
rc=$?
rm -rf "$ckdir"
if [ "$rc" -ne 0 ]; then
  overall=$rc
  echo "SWEEP-ERROR: reliable-pin lap (sf0.01) exited rc=$rc (stderr tail below)" >> "$OUT"
  tail -5 "$ERRLOG" >> "$OUT"
fi
{
  echo '```'
  echo
} >> "$OUT"
tail -6 "$OUT"
exit "$overall"
