#!/usr/bin/env bash
# Pin the round's correctness record from the BUILDER side, so an empty
# driver-side CORRECTNESS_r{N}.json can never leave a round without a hard
# signal (the round-8 failure mode: driver artifact arrived as `{}`).
#
# Runs graft.Verify at sf0.01 → /tmp/verify_out, then tools/check.py (the
# driver-gate replica: same DuckDB views, same column/row/dtype-kind
# discipline) with --json, writing CORRECTNESS_local.json at the repo root.
# Commit that file in every "pin artifacts" commit.
#
# Usage: tools/pin.sh [sf_dir] [out_dir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/verify_out}"

# Load gate: a pin taken on a busy box produces timings that read as
# regressions on unchanged code (the round-9 lesson: loadavg 4.8 start,
# q30 0.49→3.03 s on untouched WindowOps). Wait for a quiet box (1-min
# load < LOAD_MAX, default 2.0) up to LOAD_WAIT_SECS, then proceed with
# a loud warning if it never quiets — correctness pins are still valid
# under load; only timings are suspect.
LOAD_MAX="${LOAD_MAX:-2.0}"
LOAD_WAIT_SECS="${LOAD_WAIT_SECS:-600}"
waited=0
while :; do
  load1="$(cut -d' ' -f1 /proc/loadavg)"
  ok="$(awk -v l="$load1" -v m="$LOAD_MAX" 'BEGIN{print (l<m)?1:0}')"
  [ "$ok" = "1" ] && break
  if [ "$waited" -ge "$LOAD_WAIT_SECS" ]; then
    echo "WARNING: box never quieted (load ${load1} >= ${LOAD_MAX} after ${waited}s) — timings in this pin are load-contaminated" >&2
    break
  fi
  echo "load ${load1} >= ${LOAD_MAX}; waiting for a quiet box (${waited}/${LOAD_WAIT_SECS}s)" >&2
  sleep 30; waited=$((waited+30))
done
echo "loadavg_start: $(cut -d' ' -f1-3 /proc/loadavg)"
rm -rf "$OUT"
# Verify exits 1 when any query threw (named in $OUT/failures.json); the
# compare still runs so the record covers every query that did dump.
verify_rc=0
sbt -error "runMain graft.Verify $SF $OUT" || verify_rc=$?
python3 tools/check.py "$SF" "$OUT" --json CORRECTNESS_local.json
exit "$verify_rc"
