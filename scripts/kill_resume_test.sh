#!/bin/bash
# Process-level kill/resume evidence for the north rule's resumability
# criterion: start a segmented build, SIGKILL the JVM mid-build, re-run,
# and verify (a) committed segments were not rebuilt, (b) the resumed
# index is complete and queryable. ResumeSpec covers the same invariant
# in-JVM; this script proves it across a real process death.
set -u
DIR=${1:-/tmp/graft-kill-resume}
DOCS=${2:-40000}
SEGS=${3:-8}
cd "$(dirname "$0")/.."
rm -rf "$DIR"

echo "== phase 1: start build, kill mid-flight =="
# setsid: the launcher, sbt's JVM and the build JVM it forks (started from
# an @argfile, so its command line does not name IndexCli) share one new
# process group, and the kill below takes all of them
setsid sbt -batch "runMain graft.tools.IndexCli build $DIR $DOCS $SEGS" > /tmp/kr_build1.log 2>&1 < /dev/null &
SBT_PID=$!
sleep 1
PGID=$(ps -o pgid= -p "$SBT_PID" | tr -d ' ')
[ -n "$PGID" ] || { echo "FAIL: phase-1 build did not start"; exit 1; }
[ "$PGID" != "$(ps -o pgid= -p $$ | tr -d ' ')" ] || { echo "FAIL: phase-1 build shares this script's process group"; exit 1; }
# wait until at least 2 segments committed, then kill the phase-1 group hard
for i in $(seq 1 600); do
  N=$(ls "$DIR/segments" 2>/dev/null | grep -c seg= || true)
  C=$(find "$DIR/segments" -name MANIFEST.json 2>/dev/null | wc -l)
  if [ "$C" -ge 2 ]; then break; fi
  sleep 1
done
kill -9 -- "-$PGID" 2>/dev/null
wait "$SBT_PID" 2>/dev/null
for i in $(seq 1 30); do pgrep -g "$PGID" > /dev/null || break; sleep 1; done
if pgrep -g "$PGID" > /dev/null; then
  echo "FAIL: processes of the phase-1 group $PGID outlived the kill:"
  ps -o pid,ppid,pgid,args -g "$PGID"
  exit 1
fi
echo "phase-1 process group $PGID: no process alive"
COMMITTED1=$(find "$DIR/segments" -name MANIFEST.json | wc -l)
echo "killed with $COMMITTED1 committed segments (of $SEGS)"
[ "$COMMITTED1" -ge 1 ] || { echo "FAIL: nothing committed before kill"; exit 1; }
[ "$COMMITTED1" -lt "$SEGS" ] || { echo "NOTE: build finished before kill — rerun with more docs"; exit 1; }
# record manifest mtimes to prove committed segments are not rebuilt
find "$DIR/segments" -name MANIFEST.json -exec md5sum {} \; | sort > /tmp/kr_manifests1.txt

echo "== phase 2: resume =="
sbt -batch "runMain graft.tools.IndexCli build $DIR $DOCS $SEGS" > /tmp/kr_build2.log 2>&1
grep -o "built: docs=[0-9]*" /tmp/kr_build2.log
COMMITTED2=$(find "$DIR/segments" -name MANIFEST.json | wc -l)
[ "$COMMITTED2" -eq "$SEGS" ] || { echo "FAIL: expected $SEGS committed, got $COMMITTED2"; exit 1; }
# committed-before-kill manifests must be byte-identical (never rebuilt)
find "$DIR/segments" -name MANIFEST.json -exec md5sum {} \; | sort > /tmp/kr_manifests2.txt
PRESERVED=$(comm -12 /tmp/kr_manifests1.txt /tmp/kr_manifests2.txt | wc -l)
[ "$PRESERVED" -eq "$COMMITTED1" ] || { echo "FAIL: pre-kill manifests changed ($PRESERVED of $COMMITTED1 preserved)"; exit 1; }
echo "all $COMMITTED1 pre-kill segments preserved byte-identical; $((COMMITTED2 - COMMITTED1)) rebuilt"

echo "== phase 3: integrity =="
DOCS_BUILT=$(grep -o "docs=[0-9]*" /tmp/kr_build2.log | head -1 | cut -d= -f2)
[ "$DOCS_BUILT" = "$DOCS" ] || { echo "FAIL: docCount $DOCS_BUILT != $DOCS"; exit 1; }
sbt -batch "runMain graft.tools.IndexCli query $DIR 3 public" 2>/dev/null | grep "doc=" || { echo "FAIL: query"; exit 1; }
echo "PASS: kill/resume preserved committed work, completed the rest, index queryable"
