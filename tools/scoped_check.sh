#!/bin/bash
# Changed-queries-only correctness sweep: extracts every query name
# mentioned in the files touched since BASE (default HEAD) under
# src/main/scala/graft/, intersects with the engine's known query names
# (keys of the newest CORRECTNESS_r*.json), and runs a scoped Verify +
# selfcheck on just those at sf0.01. A builder validating an unrelated
# edit never re-runs the ~30-min all-pairs oracles this way; the full
# sweep stays the round gate. Queries ADDED since the last round aren't
# in the artifact yet — pass them explicitly as the second argument.
# Most MWA sources (decoders, manifest, validation, match filter) name no
# query, so a change to any file under mwa/ or to sources/VisSource.scala
# adds every known query whose name starts with `mwa`, plus the streaming
# match-filter rows s06_stream_mf, s07_stream_mf_timer,
# s20_stream_mf_restart and s21_bus_mf_restart, which build their INS
# through VisOps.diff/ins and run MatchFilter.run. The planner rules
# (src/main/scala/graft/plans/ and GraftExtensions.scala) run on every
# plan, the session settings in Engine.scala reach every plan, and the
# shared kernels (src/main/scala/graft/functions/ and operators/) serve
# queries that their files never name, and queries/Catalog.scala holds the
# helpers every query family shares and the registry, which lists rows by
# val, not by quoted name. Verify.scala runs every query,
# SparkEntry.scala serves them all through its `queries` map and
# Tables.scala loads the tables every query reads, though none of them
# names a query. So a change to any of these files sweeps every known
# query. The streaming sources (sources/BusSource.scala, streaming/) and
# multimodal/ name no query either: a change there sweeps every query
# named in queries/StreamingQueries.scala or
# queries/MultimodalQueries.scala respectively.
#
#   tools/scoped_check.sh            # uncommitted changes vs HEAD
#   tools/scoped_check.sh HEAD~3     # last three commits
#   tools/scoped_check.sh HEAD q01_count,d24_reachability  # explicit names
set -euo pipefail
cd "$(dirname "$0")/.."
BASE="${1:-HEAD}"
NAMES="${2:-}"
SF="$HOME/testdata/sf0.01"
if [ -z "$NAMES" ]; then
  FILES=$(git diff --name-only "$BASE" -- 'src/main/scala/graft/' | grep '\.scala$' || true)
  [ -z "$FILES" ] && { echo "no changed engine sources vs $BASE"; exit 0; }
  KNOWN=$(ls CORRECTNESS_r*.json | sort -V | tail -1)
  MWA=0
  echo "$FILES" | grep -qE '^src/main/scala/graft/(mwa/.*|sources/VisSource\.scala)$' && MWA=1
  ALL=0
  echo "$FILES" | grep -qE '^src/main/scala/graft/(plans/.*|functions/.*|operators/.*|queries/Catalog\.scala|GraftExtensions\.scala|Engine\.scala|Verify\.scala|SparkEntry\.scala|Tables\.scala)$' && ALL=1
  # files that name no query stand in for the family file that does
  FAMILIES=""
  echo "$FILES" | grep -qE '^src/main/scala/graft/(sources/BusSource\.scala|streaming/.*)$' \
    && FAMILIES="$FAMILIES src/main/scala/graft/queries/StreamingQueries.scala"
  echo "$FILES" | grep -qE '^src/main/scala/graft/multimodal/.*$' \
    && FAMILIES="$FAMILIES src/main/scala/graft/queries/MultimodalQueries.scala"
  NAMES=$({ grep -hso '"[a-z0-9_]*"' $FILES $FAMILIES || true; } | tr -d '"' | sort -u | python3 -c "
import json, sys
known = set(json.load(open('$KNOWN')))
hits = {l.strip() for l in sys.stdin if l.strip() in known}
if $ALL:
    hits |= known
if $MWA:
    hits |= {k for k in known if k.startswith('mwa')}
    hits |= known & {'s06_stream_mf', 's07_stream_mf_timer',
                     's20_stream_mf_restart', 's21_bus_mf_restart'}
print(','.join(sorted(hits)))")
  [ -z "$NAMES" ] && { echo "no known query names found in: $FILES"; exit 0; }
fi
echo "scoped sweep: $NAMES"
OUT=$(mktemp -d /tmp/graft_scoped.XXXX)
trap 'rm -rf "$OUT"' EXIT
sbt --batch "runMain graft.Verify $SF $OUT $NAMES" \
  2>&1 | grep -E '\[verify\]|error\]:' | grep -v INFO || true
# every swept query is checked: one that crashed in Verify dumped no
# output and FAILs, so the sweep exits non-zero
python3 tools/selfcheck.py "$SF" "$OUT" "" --only="$NAMES"
