#!/bin/bash
# Interleaved base/HEAD A/B (the r11 §1b wave protocol): run the same
# measurement alternately from the base checkout and this one, so both
# arms sample the same external-load state.  Two kinds of pair:
#
#   tools/ab_interleave.sh <pairs> <out_prefix> q306_... q334_...
#       bench.py subset; JSON lines in <out_prefix>_base.json and
#       <out_prefix>_head.json, stderr in the matching .log files.
#       Report: python tools/ab_report.py OUT_base.json OUT_head.json
#
#   tools/ab_interleave.sh --perfbench <pairs> <out.jsonl> [workload ...]
#       perfbench/run.py --trace 0 runs of each workload (default: both).
#       Pair i runs both sides with seed i; the base runs first in odd
#       pairs and HEAD first in even ones.  Each run appends one JSON
#       line to <out.jsonl>: workload, side, pair, seed, first, rc, the
#       run's env line (load_avg_1m, cpu_mark_ms, ...) and its result;
#       its stderr goes to <out>_base.log or <out>_head.log.  Every run
#       lasts BENCHMARK.json's run_seconds.
#       Report: python tools/ab_report.py --perfbench OUT.jsonl
#
# AB_BASE is the base checkout (default /tmp/r12_base); HEAD is the
# checkout this script lives in.
set -u
HERE=$(cd "$(dirname "$0")/.." && pwd)
BASE=${AB_BASE:-/tmp/r12_base}

if [ "${1:-}" = "--perfbench" ]; then
  shift
  PAIRS=$1; shift
  OUT=$1; shift
  WORKLOADS=${*:-live_stream query_mix}
  SECONDS_=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
    "$HERE/BENCHMARK.json")
  run_side() {  # side dir workload pair first
    local log rc
    log=$(mktemp)
    echo "== $3 pair $4 $1 ==" >> "${OUT%.jsonl}_$1.log"
    (cd "$2" && python3 perfbench/run.py --workload "$3" --seed "$4" \
       --seconds "$SECONDS_" --trace 0 2>> "${OUT%.jsonl}_$1.log" > "$log")
    rc=$?
    python3 "$HERE/tools/ab_report.py" --record "$3" "$1" "$4" "$4" "$5" "$rc" \
      < "$log" >> "$OUT"
    rm -f "$log"
  }
  for i in $(seq 1 "$PAIRS"); do
    for w in $WORKLOADS; do
      if [ $((i % 2)) -eq 1 ]; then
        run_side base "$BASE" "$w" "$i" base
        run_side head "$HERE" "$w" "$i" base
      else
        run_side head "$HERE" "$w" "$i" head
        run_side base "$BASE" "$w" "$i" head
      fi
    done
  done
  echo done
  exit 0
fi

PAIRS=$1; shift
OUT=$1; shift
QS="$*"
for i in $(seq 1 "$PAIRS"); do
  echo "== pair $i base ==" >> "${OUT}_base.log"
  (cd "$BASE" && SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
     python bench.py $QS 2>> "${OUT}_base.log" >> "${OUT}_base.json")
  echo "== pair $i head ==" >> "${OUT}_head.log"
  (cd "$HERE" && SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
     python bench.py $QS 2>> "${OUT}_head.log" >> "${OUT}_head.json")
done
echo done
