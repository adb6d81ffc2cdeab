#!/usr/bin/env bash
# Round-seal checklist (VERDICT r19 hygiene #8) — one command so no
# artifact step is forgotten:
#   1. idle-gated bench  -> BENCH_LAST.json   (refuses on busy machine)
#   2. render the driver-shape sidecar        -> BENCH_PARSED.json
#   3. mirror the correctness seal into the round-numbered artifact so
#      an empty driver snapshot (r19's CORRECTNESS_r19.json == {}) can
#      never be the only round record.
# CORRECTNESS_LAST.json itself must already have been regenerated from
# the two full Verify sweeps (see .claude/skills/verify/SKILL.md).
#
# Usage: tools/seal.sh <round-number>   e.g. tools/seal.sh 20
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: tools/seal.sh <round-number>}"

SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
  SPARK_GRAFT_BENCH_REQUIRE_IDLE=1 \
  sbt -batch "runMain graft.Bench"

python3 tools/bench_parsed.py BENCH_LAST.json BENCH_PARSED.json
cp CORRECTNESS_LAST.json "CORRECTNESS_r$(printf '%02d' "$ROUND")_repo.json"

git add BENCH_LAST.json BENCH_PARSED.json CORRECTNESS_LAST.json \
  "CORRECTNESS_r$(printf '%02d' "$ROUND")_repo.json"
echo "seal artifacts staged; review 'git diff --cached' then commit."
