#!/usr/bin/env bash
# Self-contained CI for the graft library — the analogue of the
# reference's end-to-end workflow (.github/workflows/ci.yml: service DB
# -> DDL -> generate -> ingest -> transform -> load -> pytest -> row
# sanity). Here the stages are: compile -> full test suite -> oracle
# correctness gate at sf0.01 and sf0.001, and at sf0.001 under the
# ladder's AQE profile and on one core (every registered query vs
# DuckDB) -> a smoke of the Probe and ExplainDump dev mains, and the plan
# audit regenerated and compared with docs/PLAN_AUDIT.json -> end-to-end
# Pipeline runs on each side of its evaluation-profile gate -> benchmark
# self-test (every benchmarked op's output hash against
# perfbench/expected.json).
# Nonzero exit on any failure.
#
# Usage: tools/ci.sh [sfDir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.01}"
WORK="$(mktemp -d /tmp/graft-ci.XXXXXX)"
trap 'rm -rf "$WORK"' EXIT
# a private store root: every stored asset (warehouse, ANN indexes, BM25,
# co-purchase) is built and committed by this checkout's code, never
# served from a vintage an earlier checkout left in the shared default
export GRAFT_INDEX_DIR="$WORK/index"

echo "== [1/6] compile =="
sbt -batch compile Test/compile

echo "== [2/6] test suite =="
sbt -batch test

# the 168/168 bar holds at both driver scales: the given dir and its
# sf0.001 sibling
SMALL="$(dirname "$SF")/sf0.001"
echo "== [3/6] oracle correctness gate ($SF, $SMALL, $SMALL with AQE, $SMALL on one core) =="
for dir in "$SF" "$SMALL"; do
  out="$WORK/verify-$(basename "$dir")"
  [ -d "$out" ] && continue # SF is itself the sf0.001 dir
  sbt -batch "runMain graft.Verify $dir $out"
  # check.py exits nonzero on any FAIL line (set -e propagates it)
  python3 tools/check.py "$dir" "$out"
done
# the scale ladder runs the AQE profile (Sessions.fromEnv with
# SPARK_GRAFT_AQE=1): hold it to the same bar once, at sf0.001
out="$WORK/verify-aqe-$(basename "$SMALL")"
SPARK_GRAFT_AQE=1 sbt -batch "runMain graft.Verify $SMALL $out"
python3 tools/check.py "$SMALL" "$out"
# and on one core: one task slot, so no result may depend on tasks
# running side by side
out="$WORK/verify-1cpu-$(basename "$SMALL")"
SPARK_GRAFT_CPUS=1 sbt -batch "runMain graft.Verify $SMALL $out"
python3 tools/check.py "$SMALL" "$out"

echo "== [4/6] dev mains smoke ($SF), plan audit ($SMALL) =="
# Probe and ExplainDump start through the same Sessions path as Bench and
# Verify; run each once so a rewiring cannot rot them silently
sbt -batch "runMain graft.Probe $SF q01_top_products 2" | tee "$WORK/probe.log"
grep -q 'q01_top_products rows=' "$WORK/probe.log"
# the second call compiles no class: the op generates the same code on
# every call, and its classes stay in the code generator's cache
grep -Eq '^\[probe\] q01_top_products compiles per call: [0-9]+ 0$' "$WORK/probe.log"
sbt -batch "runMain graft.ExplainDump $SF $WORK/plans.md q01_top_products"
grep -q '^## q01_top_products' "$WORK/plans.md"
# the plan audit of every registered key, regenerated in a JVM of its own
# against the stores stages 2-3 built, is the committed one byte for byte
# (PlanAuditSpec checks the same in a test JVM of its own)
sbt -batch "runMain graft.ExplainDump $SMALL $WORK/PLAN_AUDIT.json"
cmp "$WORK/PLAN_AUDIT.json" docs/PLAN_AUDIT.json

# the DAG on each side of its evaluation-profile gate (Pipeline.
# InterpretedBelowBytes): $SF is below it and runs interpreted, its sf0.1
# sibling is above it and runs with code generation, as every query did
# before the gate; the reports' compile counts show which profile ran
LARGE="$(dirname "$SF")/sf0.1"
echo "== [5/6] pipeline runs ($SF interpreted, $LARGE compiled) =="
for dir in "$SF" "$LARGE"; do
  out="$WORK/pipeline-$(basename "$dir")"
  [ -d "$out" ] && continue # SF is itself the sf0.1 dir
  profile=interpreted
  [ "$dir" = "$LARGE" ] && profile=compiled
  sbt -batch "runMain graft.Pipeline $dir $out"
  test -s "$out/pipeline_execution_report.json"
  # the run succeeded, every warehouse table loaded its source's rows,
  # the monitoring report carries the score the quality step handed on,
  # and the DAG compiled as many classes as its profile does (at most 70
  # interpreted, as PipelineSpec bounds it; about 530 compiled)
  python3 - "$out" "$profile" <<'PY'
import json, sys
out, profile = sys.argv[1], sys.argv[2]
report = json.load(open(f"{out}/pipeline_execution_report.json"))
assert report["status"] == "success", f"pipeline status {report['status']}"
loads = json.load(open(f"{out}/warehouse/load_report.json"))
bad = {t: v["status"] for t, v in loads.items() if v["status"] != "loaded"}
assert loads and not bad, f"warehouse load report: {bad or 'empty'}"
quality = json.load(open(f"{out}/quality/quality_report.json"))["quality_score"]
monitored = json.load(open(f"{out}/monitoring/monitoring_report.json"))[
    "checks"]["data_quality"]["quality_score"]
assert monitored == quality, f"monitoring quality_score {monitored} != quality report's {quality}"
compiles = sum(s["codegen_compiles"] for s in report["steps"])
ok = compiles <= 70 if profile == "interpreted" else compiles >= 300
assert ok, f"{compiles} codegen compiles: not the {profile} profile"
print(f"pipeline {out}: {profile}, {compiles} codegen compiles")
PY
done

echo "== [6/6] benchmark self-test =="
# Both benchmark workloads briefly, every output checked against the
# recorded DuckDB hashes: a refactor that changes a benchmarked op's
# result fails here, not only in a full benchmark run.
python3 perfbench/run.py --selftest

echo "CI OK"
