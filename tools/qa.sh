#!/usr/bin/env bash
# One-shot QA: compile → tests (library and benchmark) → oracle
# rehearsal at all three scale factors (and two thread counts at the
# graded sf) → bench JSON.
# Usage: tools/qa.sh [--fast]   (--fast: sf0.01 only, skip bench)
# Plan evidence is a separate step: dump every plan in two trees with
# `runMain graft.PlanDump <dir> <suffix> all` and list the queries whose
# plans differ with `python3 tools/plandiff.py <dirA> <dirB>`.
# Line counts are a separate step too: `python3 tools/loc.py <treeA>
# <treeB>` prints the `src/main` code and comment lines per file of two
# trees (e.g. a clone of the parent commit and this one).
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile | tail -1
sbt -batch test 2>&1 | grep -E "Tests:|FAILED" | tail -2
python3 -m unittest discover -s perfbench/tests 2>&1 | tail -1
(cd perfbench/harness && sbt -batch harness/test 2>&1 | grep -E "Tests:|FAILED" | tail -2)

run_verify() { # sf outdir cpus
  SPARK_GRAFT_CPUS="$3" sbt -batch "runMain graft.Verify /root/testdata/$1 $2" \
    2>&1 | grep -E '\[verify\]' || true
  python3 tools/rehearse.py "/root/testdata/$1" "$2" | tail -1
}

run_verify sf0.01 /tmp/qa_v4  4
run_verify sf0.01 /tmp/qa_v32 32   # partition-order determinism check

# full matrix over the hash-clustered catalog layout (oracle still
# reads loose parquet → proves all queries are layout-independent)
SPARK_GRAFT_BUCKETED=true run_verify sf0.01 /tmp/qa_vbkt 16

if [[ "${1:-}" != "--fast" ]]; then
  run_verify sf0.001 /tmp/qa_v001 4
  run_verify sf0.1   /tmp/qa_v01  16
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | sed 's/^\[info\] //'
fi
