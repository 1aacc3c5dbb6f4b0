#!/bin/bash
# Re-cut the round artifacts that ArtifactFreshnessSpec checks, at the
# current commit:
#   BENCH_LOCAL_r<N>.json  graft.Bench over the full suite (sf0.1 by
#                          default; SPARK_GRAFT_SF_DIR overrides)
#   PLAN_AUDIT_r<N>.txt    graft.ExplainAudit over the full suite (sf0.01
#                          by default; the second argument overrides)
# Both records are stamped with the git HEAD, and the spec fails when
# src/main or build.sbt differ from that commit — so commit the code
# first, run this, then commit the two files it writes.
#
#   scripts/recut_artifacts.sh <round> [audit sf dir]
#
# The driver heap defaults to half the machine's memory, 2-8 GB
# (build.sbt's default is a pre-touched 24 GB); SPARK_DRIVER_MEM
# overrides it.
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND=${1:?usage: scripts/recut_artifacts.sh <round> [audit sf dir]}
AUDIT_ARGS=${2:-}

if ! git diff --quiet HEAD -- src/main build.sbt; then
  echo "src/main or build.sbt has uncommitted changes; commit them first" >&2
  exit 1
fi

export COURSIER_MODE=${COURSIER_MODE:-offline}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
unset SPARK_GRAFT_ONLY
HEAD_SHA=$(git rev-parse HEAD)
LOG=$(mktemp)
trap 'rm -f "$LOG"' EXIT

echo "[recut] graft.Bench (full suite) at $HEAD_SHA, heap $SPARK_DRIVER_MEM"
sbt -batch -Dsbt.log.noformat=true "runMain graft.Bench" >"$LOG" 2>&1 || {
  tail -40 "$LOG" >&2; exit 1; }
grep -q "\"git_head\":\"$HEAD_SHA\"" target/bench_full.json || {
  echo "target/bench_full.json is not stamped $HEAD_SHA" >&2; exit 1; }
cp target/bench_full.json "BENCH_LOCAL_r$ROUND.json"
echo "[recut] wrote BENCH_LOCAL_r$ROUND.json"

echo "[recut] graft.ExplainAudit (full suite)"
sbt -batch -Dsbt.log.noformat=true "Test/runMain graft.ExplainAudit $AUDIT_ARGS" \
  >"$LOG" 2>&1 || { tail -40 "$LOG" >&2; exit 1; }
{
  echo "# PLAN_AUDIT r$ROUND - ExplainAudit, AQE-finalized plans, git ${HEAD_SHA:0:7}"
  sed -n 's/^\[info\] //p' "$LOG" |
    grep -E '^([A-Za-z0-9_]+ +pushdown=|    ReadSchema: |AUDITED )'
} >"PLAN_AUDIT_r$ROUND.txt"
grep -q '^AUDITED .*(full suite)' "PLAN_AUDIT_r$ROUND.txt" || {
  echo "ExplainAudit did not audit the full suite" >&2; exit 1; }
echo "[recut] wrote PLAN_AUDIT_r$ROUND.txt"
