#!/bin/bash
# Cold-cache gate-probe measurement (round-13 verdict #6).
#
# Builds the six bucketed on-disk gate indices at each base scale in its
# own JVM, then probes each scale in a FRESH JVM with the OS page cache
# dropped in between — so batch 1 of each probe pays real disk reads
# against a disk-resident index, the condition the 100 TB claim is about.
# Requires root (drop_caches). Scales: x1 = sf0.1 (5k docs / 2k vecs),
# x10 = .localdata/sf1, x100 = .localdata/sf10.
#
# Usage: tools/gate_cold.sh [out.jsonl]   (set GATE_X10=1 to include the x10 decade)
# pipefail: a failed build/probe JVM must abort the script loudly — a
# swallowed failure here yields a silently-incomplete JSONL whose numbers
# feed SURVEY crossover claims (ADVICE r13).
set -eo pipefail
cd /root/repo
OUT="${1:-/tmp/gate_cold.jsonl}"
: > "$OUT"
WH=/root/repo/.localdata/gatewh
rm -rf "$WH"
LOG="${OUT%.jsonl}.log"
: > "$LOG"

drop_caches() { sync; echo 3 > /proc/sys/vm/drop_caches; }

run() { # run <main args...>
  # sbt noise goes to a log file (not /dev/null: a failure must be
  # diagnosable); the JSON lines are the only stdout. grep -E '^\{' would
  # return 1 on zero matches and mask WHICH stage died, so filter in awk
  # (exit 0 on no match) and let sbt's own exit status propagate.
  sbt -batch "runMain graft.BenchGateCold $*" 2>>"$LOG" \
    | tee -a "$LOG" | awk '/^\{/' | tee -a "$OUT"
}

run build /root/testdata/sf0.1 x1
[ -n "$GATE_X10" ] && [ -d .localdata/sf1 ] && run build /root/repo/.localdata/sf1 x10
[ -d .localdata/sf10 ] && run build /root/repo/.localdata/sf10 x100

drop_caches
run probe x1
drop_caches
[ -n "$GATE_X10" ] && [ -d .localdata/sf1 ] && run probe x10
drop_caches
[ -d .localdata/sf10 ] && run probe x100
echo "results: $OUT"
