#!/bin/bash
# Bench wrapper with a guaranteed-parseable tail: runs the standard
# driver invocation (`sbt "runMain graft.Bench"`, honoring
# SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS) and then re-echoes the compact
# marker line from BENCH_MARKER.txt as the true final stdout line, so a
# last-line parser always gets bare `BENCH_JSON {...}` even if some sbt
# version re-decorates the forked process output. build.sbt already sets
# `run / outputStrategy := StdoutOutput` and `showSuccess := false`, so
# the plain sbt invocation's own last line is the marker too — this
# wrapper is belt-and-braces for harnesses that can call a script.
set -uo pipefail
cd "$(dirname "$0")/.."
sbt "runMain graft.Bench"
rc=$?
# BENCH_MARKER.txt holds the last successful run's marker: echo it only
# when this run succeeded, so a failed run never ends on stale numbers
if [ "$rc" -eq 0 ] && [ -f BENCH_MARKER.txt ]; then
  grep '^BENCH_JSON ' BENCH_MARKER.txt | tail -1
fi
exit $rc
