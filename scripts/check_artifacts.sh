#!/usr/bin/env bash
# Round-artifact staleness check (r17 verdict "What's wrong #1" / task
# #4): every shipped gate artifact must be NEWER than HEAD's commit
# time, else it describes a tree that no longer exists (r17 shipped an
# sf0.1 CORRECTNESS file and a PLANDUMP that predated the last two lake
# read-path commits). Run as the LAST step of the round-artifact chain:
#   scripts/check_artifacts.sh r18
# Exits non-zero listing every stale or missing artifact.
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: check_artifacts.sh <round-label, e.g. r18>}"
# Compare against the last commit touching the ENGINE SOURCE, not bare
# HEAD: an artifact-only (or tooling-only) commit would otherwise
# immediately re-stale the very artifacts it ships (r19 — the check is
# meant to prove the artifacts describe the shipped CODE). Tooling-only
# commits (scripts/, docs, the artifacts themselves) are exempt because
# they cannot change what the artifacts measure: the correctness dump,
# the plan dump and the bench numbers are all produced by src/ as built
# by build.sbt.
HEAD_TS=$(git log -1 --format=%ct -- src build.sbt)
# No such commit (a shallow clone, or a history that never touched those
# paths) leaves HEAD_TS empty; `[ x -lt "" ]` then prints "integer
# expression expected" and is false inside the elif, so every artifact
# would count as fresh. Fall back to bare HEAD, and refuse to compare
# against nothing.
[ -n "$HEAD_TS" ] || HEAD_TS=$(git log -1 --format=%ct HEAD)
: "${HEAD_TS:?no commit to compare the artifacts against}"
fail=0
for f in "CORRECTNESS_sf0.1_${ROUND}.json" "PLANDUMP_${ROUND}.txt" \
         "BENCH_LOCAL_${ROUND}.json"; do
  if [ ! -f "$f" ]; then
    echo "STALE-CHECK FAIL: $f missing" >&2
    fail=1
  elif [ "$(stat -c %Y "$f")" -lt "$HEAD_TS" ]; then
    echo "STALE-CHECK FAIL: $f ($(date -d @"$(stat -c %Y "$f")" +%T)) is" \
         "older than HEAD's commit ($(date -d @"$HEAD_TS" +%T)) — " \
         "regenerate it from the shipped tree" >&2
    fail=1
  fi
done
[ "$fail" -eq 0 ] && echo "STALE-CHECK OK: all ${ROUND} artifacts newer than HEAD"
exit "$fail"
