#!/usr/bin/env bash
# Precommit guard: a commit touching src/ must never ship a tree that
# fails to compile (the round-12 failure mode: a one-line type error in
# the final snapshot emptied the entire driver gate). Run before ANY
# commit that touches src/; the end-of-round routine runs it too.
#
#   tools/precommit.sh            # compile main + test sources
#   tools/precommit.sh --test     # also run the full ScalaTest suite
#
# Fast path: `sbt Test/compile` (~30 s warm) catches every type error in
# both source trees. `--test` adds the full suite when time allows; the
# targeted crosscheck of changed queries is tools/crosscheck.py.
set -euo pipefail
cd "$(dirname "$0")/.."

# Sink guard: the foreachBatch wrapper and state-path resolution live
# in one place, sinks/Sinks.scala (foldSink, BatchState, qualified). A
# hand-rolled `.foreachBatch` bypasses the replay contract, and
# `toUri.getPath` drops a path's scheme and authority, so state meant
# for another filesystem lands on the default one.
if hits=$(grep -rn -e '\.foreachBatch' -e 'toUri\.getPath' src/main \
    --include='*.scala' | grep -v '^src/main/scala/graft/sinks/Sinks\.scala:'); then
  echo "$hits"
  echo "[precommit] FAIL: use Sinks.foldSink / Sinks.BatchState instead." >&2
  exit 1
fi
echo "[precommit] sink guard OK"

echo "[precommit] sbt Test/compile ..."
if ! sbt -batch Test/compile >/tmp/graft_precommit.log 2>&1; then
  tail -30 /tmp/graft_precommit.log
  echo "[precommit] FAIL: tree does not compile — do NOT commit." >&2
  exit 1
fi
echo "[precommit] compile OK"

if [[ "${1:-}" == "--test" ]]; then
  echo "[precommit] sbt test ..."
  if ! sbt -batch test >/tmp/graft_precommit_test.log 2>&1; then
    tail -40 /tmp/graft_precommit_test.log
    echo "[precommit] FAIL: test suite red — do NOT commit." >&2
    exit 1
  fi
  echo "[precommit] tests OK"
fi
echo "[precommit] PASS"
