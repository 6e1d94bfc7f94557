#!/bin/bash
# Pre-commit mirror of the driver's DuckDB oracle gate.
#
# The dual-SQL discipline (every operator hand-mirrored in DuckDB SQL)
# is the repo's biggest ongoing correctness tax: 125+ pairs kept in
# sync by eye. This hook runs the full Verify dump + DuckDB compare at
# sf0.001 whenever staged changes touch main source, so a drifted pair
# fails the COMMIT, not the driver round days later.
# Staged changes under src/main/scala/graft/streaming/ also run
# StreamingSpec and StreamingRecoverySpec; staged changes to
# src/main/scala/graft/Config.scala (the lineage cut) run LineageCutSpec.
#
# Skip (emergencies only): GRAFT_SKIP_GATE=1 git commit ...
set -uo pipefail
cd "$(git rev-parse --show-toplevel)"

if [ "${GRAFT_SKIP_GATE:-0}" = "1" ]; then
  echo "[gate] SKIPPED via GRAFT_SKIP_GATE=1"
  exit 0
fi

# only main-source changes can drift an oracle pair
if ! git diff --cached --name-only | grep -q '^src/main/'; then
  echo "[gate] no src/main changes staged — oracle gate not needed"
  exit 0
fi

sf_dir=/root/testdata/sf0.001
if [ ! -d "$sf_dir" ]; then
  echo "[gate] $sf_dir missing — cannot run the gate here, letting commit through"
  exit 0
fi

out=$(mktemp -d /tmp/graft_gate.XXXXXX)
echo "[gate] oracle parity at sf0.001 (output: $out)"
if ! SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
    sbt -batch "runMain graft.Verify $sf_dir $out" > "$out/verify.log" 2>&1; then
  echo "[gate] Verify FAILED — tail of $out/verify.log:"
  tail -20 "$out/verify.log"
  exit 1
fi
if grep -q '\[verify\].*failed' "$out/verify.log"; then
  echo "[gate] per-query failures:"
  grep '\[verify\].*failed' "$out/verify.log"
  exit 1
fi
python3 scripts/check_oracle.py "$sf_dir" "$out" > "$out/oracle.log" 2>&1
rc=$?
tail -3 "$out/oracle.log"
if [ $rc -ne 0 ]; then
  echo "[gate] ORACLE MISMATCH — full log: $out/oracle.log"
  grep '^FAIL' "$out/oracle.log" | head -10
  exit 1
fi

# The oracle gate checks only the streaming sinks' batch twins; their
# fold == rebuild, slicing and kill/resume properties live in these specs.
if git diff --cached --name-only | grep -q '^src/main/scala/graft/streaming/'; then
  echo "[gate] streaming sink specs (log: $out/streaming.log)"
  if ! sbt -batch "testOnly graft.StreamingSpec graft.StreamingRecoverySpec" \
      > "$out/streaming.log" 2>&1; then
    echo "[gate] STREAMING SPECS FAILED — tail of $out/streaming.log:"
    tail -20 "$out/streaming.log"
    exit 1
  fi
fi
# The oracle gate runs every cut without a checkpoint dir; the cut's
# contract on both backends lives in this spec.
if git diff --cached --name-only | grep -q '^src/main/scala/graft/Config.scala$'; then
  echo "[gate] lineage-cut spec (log: $out/lineage_cut.log)"
  if ! sbt -batch "testOnly graft.LineageCutSpec" > "$out/lineage_cut.log" 2>&1; then
    echo "[gate] LINEAGE-CUT SPEC FAILED — tail of $out/lineage_cut.log:"
    tail -20 "$out/lineage_cut.log"
    exit 1
  fi
fi
echo "[gate] green"
exit 0
