#!/usr/bin/env bash
# Round-17 scale ladder: 1x/10x/30x/100x/300x replicas of sf0.1 with
# dim-scaled dimensions (dimFactor=factor), full Bench per rung, ONE
# session config at every rung: SPARK_GRAFT_AQE=1.
#
# Round-17: same structure as the round-16 script (300x-first, validated
# skip guard, no cross-vintage seeding, disk reclaim) — the r15 ADVICE items plus
# the rung ordering the r15 post-mortem asked for:
#   - 300x RUNS FIRST IN THE SCRIPT, 1x LAST. r15 encoded "300x first"
#     only as prose plus a manual 1x seed file no script wrote; a fresh
#     session spent its deadline budget re-benching 1x before the rung
#     that owed medians. The order is now structural: the rung that
#     owes medians gets first claim on the deadline, and the cheap 1x
#     rung banks from whatever clock is left.
#   - VALIDATED skip guard: a rung is skipped only when its result file
#     parses with failures==0 and value>0 AND the bench JVM that wrote
#     it exited 0 (rc recorded beside the file). A degraded result
#     (-1 medians, nonzero rc) is re-benched, not silently re-banked.
#   - No cross-vintage seeding: docs/BENCH_SCALE.json is assembled only
#     from THIS vintage's result files. The code under bench changed
#     this round (q05/q06/q09 Expand collapses, shared RFM aggregate),
#     so substituting a committed r15 line for a missing rung would mix
#     vintages in one artifact — a missing rung stays visibly missing.
#   - DISK RECLAIM: after a rung banks a validated result, its corpus
#     and its /tmp/graft-indexes stores are deleted (regen is minutes;
#     the ~50 GB bench spill spikes that ENOSPC'd r14 need the
#     headroom). The 1x corpus is /root/testdata/sf0.1 — never touched.
#
# Carried from r15: LOCK + TRAP (one ladder at a time; no orphaned
# pinned JVMs), DEADLINE + watchdog (no phase starts past it, nothing
# survives 10 min beyond it), DISK HEADROOM gates before gen/bench,
# PREBUILD in a dedicated JVM per rung (graft.Prebuild) so store-build
# spill frees at process exit, gen sentinel carrying "factor:dimFactor"
# written only on rc=0, roster-by-tag (SPARK_GRAFT_BENCH_SKIP_CLASS=
# listing at 300x only), frozen classpath snapshot, progressive
# commits, pinned pre-touched heaps, zstd shuffle compression.
set -uo pipefail
cd /root/repo

exec 9>/tmp/graft_ladder.lock
if ! flock -n 9; then echo "another ladder holds the lock; refusing"; exit 1; fi

DEADLINE="${GRAFT_LADDER_DEADLINE:-$(( $(date +%s) + 4*3600 ))}"
# watchdog: whatever happens, nothing of ours survives 10min past the deadline
( while [ "$(date +%s)" -lt $(( DEADLINE + 600 )) ]; do sleep 30; done
  pkill -TERM -f 'graft\.(Bench|Prebuild|ScaleGen|Verify)' ) &
WATCHDOG=$!
cleanup() {
  pkill -TERM -P $$ 2>/dev/null
  kill "$WATCHDOG" 2>/dev/null
  pkill -TERM -f 'graft\.(Bench|Prebuild|ScaleGen)' 2>/dev/null
}
trap cleanup EXIT TERM INT

log() { echo "[ladder17 $(date +%H:%M:%S)] $*"; }

time_left() { # phase gate: false once past the deadline
  [ "$(date +%s)" -lt "$DEADLINE" ]
}

disk_ok() { # min GiB available on /root
  local need_gib="$1"
  local avail_kib; avail_kib=$(df --output=avail /root | tail -1 | tr -d ' ')
  if [ "$avail_kib" -lt $(( need_gib * 1024 * 1024 )) ]; then
    log "SKIP: only $(( avail_kib / 1024 / 1024 )) GiB free, need ${need_gib}"
    return 1
  fi
}

# a rung's banked result is trustworthy only if the JSON says zero
# failures with a positive total AND the writing JVM exited clean
valid_result() { # label
  local f="/root/scale/r17_bench_$1.json"
  [ -f "$f" ] || return 1
  grep -q '"failures":0' "$f" || return 1
  grep -q '"value":0\.0*,' "$f" && return 1
  [ "$(cat "/root/scale/r17_bench_$1.rc" 2>/dev/null)" = "0" ]
}

SNAP=/root/scale/classes_r17_bench
mkdir -p /root/scale
rm -rf "$SNAP"
cp -r /root/repo/target/scala-2.13/classes "$SNAP"

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
CP="$SNAP:/opt/spark/jars/*"
JAVA="java $ADD_OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Dspark.io.compression.codec=zstd -cp $CP"

assemble_and_commit() { # label — THIS vintage's files only, no seeding
  : > docs/BENCH_SCALE.json
  for r in 1x 10x 30x 100x 300x; do
    [ -f "/root/scale/r17_bench_$r.json" ] && cat "/root/scale/r17_bench_$r.json" >> docs/BENCH_SCALE.json
  done
  git add docs/BENCH_SCALE.json
  git commit -q -m "Bank the ${1} scale-ladder rung (r17 vintage: agg_* Expand collapse, shared LSH banding exchange, histogram prefix-cut)" || true
  log "committed rung ${1}"
}

reclaim() { # dir — corpus + its stores, once the rung's result is valid
  local dir="$1"
  [ "$dir" = "/root/testdata/sf0.1" ] && return 0
  local tag; tag="$(echo "$dir" | tr '/.' '__')"
  log "reclaim $dir (+ stores ${tag}-*)"
  rm -rf "$dir" /tmp/graft-indexes/${tag}-* 2>/dev/null
}

gen() { # factor dir mem need_gib
  local factor="$1" dir="$2" mem="$3" need="$4"
  local want="${factor}:${factor}"
  if [ -f "$dir/_GEN_OK" ] && [ "$(cat "$dir/_GEN_OK")" = "$want" ]; then
    log "reuse existing $dir (sentinel $want)"; return 0
  fi
  time_left || { log "SKIP gen ${factor}x: past deadline"; return 1; }
  disk_ok "$need" || return 1
  rm -rf "$dir"
  log "scalegen ${factor}x (dims ${factor}x) -> $dir"
  $JAVA "-Xms$mem" "-Xmx$mem" -XX:+AlwaysPreTouch graft.ScaleGen /root/testdata/sf0.1 "$dir" "$factor" "$factor" \
    > "/root/scale/r17_gen_${factor}x.log" 2>&1
  local rc=$?
  if [ $rc -eq 0 ]; then echo "$want" > "$dir/_GEN_OK"; else
    log "scalegen ${factor}x FAILED rc=$rc — corpus NOT benchable"; return 1; fi
}

prebuild() { # dir mem extra_jvm...
  local dir="$1" mem="$2"; shift 2
  time_left || { log "SKIP prebuild: past deadline"; return 1; }
  log "prebuild stores for $dir (mem $mem)"
  SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_AQE=1 \
    $JAVA "-Xms$mem" "-Xmx$mem" -XX:+AlwaysPreTouch "$@" graft.Prebuild "$dir" \
    > "/root/scale/r17_prebuild_$(basename "$dir").log" 2>&1
  local rc=$?
  log "prebuild rc=$rc: $(grep '\[prebuild\]' "/root/scale/r17_prebuild_$(basename "$dir").log" | tail -2 | tr '\n' ' ')"
  return $rc
}

bench() { # dir label mem need_gib extra_jvm...
  local dir="$1" label="$2" mem="$3" need="$4"; shift 4
  if valid_result "$label"; then log "reuse banked $label (validated)"; return 0; fi
  time_left || { log "SKIP bench $label: past deadline"; return 1; }
  disk_ok "$need" || return 1
  prebuild "$dir" "$mem" "$@" || log "prebuild $label imperfect; bench will rebuild inline"
  time_left || { log "SKIP bench $label: past deadline"; return 1; }
  log "bench $label (mem $mem)"
  SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_AQE=1 \
  SPARK_GRAFT_BENCH_OUT="/root/scale/r17_bench_$label.json" \
    $JAVA "-Xms$mem" "-Xmx$mem" -XX:+AlwaysPreTouch "$@" graft.Bench > "/root/scale/r17_bench_$label.log" 2>&1
  local rc=$?
  echo "$rc" > "/root/scale/r17_bench_$label.rc"
  log "bench $label rc=$rc tail: $(tail -c 300 /root/scale/r17_bench_$label.json 2>/dev/null)"
  assemble_and_commit "$label"
  if valid_result "$label"; then reclaim "$dir"; fi
}

# 300x first: the rung that owes medians (no real 300x numbers for two
# rounds) and the one every r15/r16 perf fix targets (q01/q08 gate, q07
# collapse, vocab store, q05/q06/q09 collapses, shared RFM aggregate).
gen 300 /root/scale/x300 48g 55 || true
if [ -f /root/scale/x300/_GEN_OK ]; then
  export SPARK_GRAFT_BENCH_SKIP_CLASS=listing
  bench /root/scale/x300 300x 100g 35 -Dspark.cleaner.periodicGC.interval=2min -Dspark.driver.maxResultSize=4g
  unset SPARK_GRAFT_BENCH_SKIP_CLASS
fi

gen 100 /root/scale/x100 24g 25 && bench /root/scale/x100 100x 48g 20
gen 30  /root/scale/x30  16g 10 && bench /root/scale/x30  30x  24g 10
gen 10  /root/scale/x10  12g  5 && bench /root/scale/x10  10x  16g  5

# 1x last: cheapest rung, re-benched fresh on THIS vintage (the r15
# banked 1x predates the q05/q06/q09 collapses — seeding it here would
# bank stale numbers under a new-vintage artifact).
bench /root/testdata/sf0.1 1x 8g 10

log "DONE"
