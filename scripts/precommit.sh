#!/usr/bin/env bash
# Pre-commit guard: the repo must never be committed uncompiled.
# Round 6 ended with an undefined symbol at HEAD and zeroed the whole
# round's correctness + bench signal; this makes that impossible.
#
# Usage: scripts/precommit.sh [--test]
#   (no args)  sbt Test/compile  — main + test sources must compile
#   --test     additionally runs the full scalatest suite
set -euo pipefail
cd "$(dirname "$0")/.."
# Layout guard: every at-rest table's bucket/sort/save decision lives in
# sources/Warehouse.scala (one Layout value per family), so no other
# main source may call bucketBy or saveAsTable.
if stray=$(grep -rnE '\.(bucketBy|saveAsTable)\(' src/main/scala \
    | grep -v '^src/main/scala/graft/sources/Warehouse\.scala:'); then
  echo "precommit: bucketBy/saveAsTable outside sources/Warehouse.scala:" >&2
  echo "$stray" >&2
  exit 1
fi
# Materialization guard: the eager local-vs-reliable checkpoint rule
# lives in operators/Materialize.scala, so no other main source may
# call localCheckpoint or checkpoint.
if stray=$(grep -rnE '\.(localCheckpoint|checkpoint)\(' src/main/scala \
    | grep -v '^src/main/scala/graft/operators/Materialize\.scala:'); then
  echo "precommit: localCheckpoint/checkpoint outside operators/Materialize.scala:" >&2
  echo "$stray" >&2
  exit 1
fi
sbt -batch Test/compile
if [[ "${1:-}" == "--test" ]]; then
  sbt -batch test
fi
echo "precommit: OK"
