#!/bin/bash
# Round closing gate — ONE command, non-zero exit on any leg, so the
# whole round-close can never silently skip a check:
#   leg 0: self-tests (shuffle width gate + key gate — planted positives
#          MUST trip);
#   leg 1: full sf0.1 bench (fresh JVM, CPUS=32)
#          -> tools/bench_sf01_r<N>.json, zero failed queries;
#   leg 2: per-query shuffle-WIDTH diff vs the previous round's artifact
#          (shuffle_diff.py --gate) -> tools/width_diff_r<N>.txt;
#   leg 3: key-set triple equality (key_gate.py): SURVEY §2 == the
#          engine catalog, and every key the latest CORRECTNESS artifact
#          gated is still present in both;
#   leg 4: records-scaling gate (scaling.py --gate): SATURATED benches
#          at sf0.1 and ScaleUp-sf1 (plan shape held fixed — broadcast
#          promotion off), shuffle RECORDS must grow <= 10x * (1+tol)
#          across the decade -> tools/scaling_r<N>.json.
#          The decade MUST be the ScaleUp generator (disjoint-vocabulary
#          replicas of sf0.1), never two organic corpora: pair-table
#          operators (the shingle self-joins, dedup_recall's truth
#          pairs) grow with SUM df^2 over shared shingles, and organic
#          corpora share vocabulary, so their pair mass grows
#          super-linearly IN THE DATA (measured 58-86x for the organic
#          sf0.01->sf0.1 decade) — a generator artifact of the
#          comparison, not a plan regression. ScaleUp's token-suffixed
#          replicas keep candidate pairs linear by construction, so on
#          that decade the gate isolates PLAN growth;
#   leg 5: scale-evidence coverage (key_gate.py --scale): every catalog
#          key must appear in this round's saturated benches AND be
#          checked-or-exempted by the scaling artifact — no key ships
#          decade-blind (the r18 dedup_jaccard_incremental hole);
#   leg 6: request-path correctness: the benchmark's qa_refresh workload
#          (perfbench/run.py, seed 1001, 10 s) must report "correct":true
#          with "failed":0 — every search/qaContext answer equals the
#          batch top-k, edited and appended docs come back at rank 1 and
#          deleted docs never do, so a stale serving index cannot pass.
# Legs 3-4 were manual steps through round 17 (the advice: a future
# round could skip them); now the close is this script or nothing.
#
# Usage: tools/round_gate.sh <round_number> [prev_bench.json]
set -euo pipefail
cd "$(dirname "$0")/.."

N="${1:?usage: tools/round_gate.sh <round_number> [prev_bench.json]}"
PREV="${2:-$(ls tools/bench_sf01_r*.json 2>/dev/null | sort -V | tail -1)}"
[ -n "$PREV" ] || { echo "no previous bench artifact found"; exit 1; }
CORR="$(ls CORRECTNESS_r*.json 2>/dev/null | sort -V | tail -1)"

python3 tools/shuffle_diff.py --selftest
python3 tools/key_gate.py --selftest

ADD_OPENS=$(sed -n 's/.*"\(--add-opens=[^"]*\)".*/\1/p' tools/bench_isolated.py | tr '\n' ' ')
OUT="tools/bench_sf01_r${N}.json"
# shellcheck disable=SC2086
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  java -Xmx24g $ADD_OPENS -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
  graft.Bench 2>/dev/null | head -1 > "$OUT"
python3 -c "import json,sys; d=json.load(open('$OUT')); \
  sys.exit(1 if d['failed'] else 0)" \
  || { echo "bench reported failed queries — see $OUT"; exit 1; }

python3 tools/shuffle_diff.py "$PREV" "$OUT" --gate \
  | tee "tools/width_diff_r${N}.txt"

python3 tools/key_gate.py SURVEY.md "$OUT" ${CORR:+"$CORR"}

# records-scaling leg: saturated runs pin the 100 TB plan shape at both
# SFs, so the records ratio measures GROWTH, not AQE's small-scale
# broadcast wins (see Bench.scala's SATURATED note). The decade is
# sf0.1 -> ScaleUp(sf0.1)x10 — see the header note for why it must be
# the generator decade; the saturated sf10 sweeps stay the deep-dive
# artifacts, this leg is the every-round regression tripwire.
SF1_DIR="${SPARK_GRAFT_SF1_DIR:-/tmp/graft_gate_sf1}"
if [ ! -d "$SF1_DIR" ]; then
  # shellcheck disable=SC2086
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    java -Xmx24g $ADD_OPENS -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
    graft.ScaleUp /root/testdata/sf0.1 "$SF1_DIR" 10 2>/dev/null | tail -1
fi
SMALL="tools/bench_sat_sf01_r${N}.json"
BIG="tools/bench_sat_sf1_r${N}.json"
# shellcheck disable=SC2086
SPARK_GRAFT_SATURATED=1 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  java -Xmx24g $ADD_OPENS -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
  graft.Bench 2>/dev/null | head -1 > "$SMALL"
# shellcheck disable=SC2086
SPARK_GRAFT_SATURATED=1 SPARK_GRAFT_SF_DIR="$SF1_DIR" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  java -Xmx24g $ADD_OPENS -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
  graft.Bench 2>/dev/null | head -1 > "$BIG"
python3 -c "import json,sys; \
  sys.exit(1 if json.load(open('$SMALL'))['failed'] or \
    json.load(open('$BIG'))['failed'] else 0)" \
  || { echo "saturated bench reported failed queries"; exit 1; }
python3 tools/scaling.py "$SMALL" "$BIG" 10 --gate \
  --gate-out "tools/scaling_r${N}.json" > /dev/null \
  || { echo "records-scaling gate FAILED — see tools/scaling_r${N}.json"; exit 1; }
echo "records-scaling gate OK: tools/scaling_r${N}.json"

# scale-evidence leg: every catalog key must appear in THIS round's
# scale artifacts (saturated benches cover it by construction — they run
# the full catalog; the scaling artifact must have checked or exempted
# it). Closes the r18 hole: a key added after the round's scale sweeps
# carried zero decade evidence and nothing failed.
python3 tools/key_gate.py SURVEY.md "$OUT" ${CORR:+"$CORR"} \
  --scale "$SMALL" "$BIG" "tools/scaling_r${N}.json"

QA="$(python3 perfbench/run.py --workload qa_refresh --seed 1001 \
  --seconds 10 --trace 0 | tail -1)" \
  || { echo "request-path leg FAILED: the workload did not finish"; exit 1; }
python3 -c 'import json, sys; d = json.loads(sys.argv[1]); \
  sys.exit(0 if d["correct"] is True and d["failed"] == 0 else 1)' "$QA" \
  || { echo "request-path leg FAILED: $QA"; exit 1; }
echo "request-path leg OK: $QA"

echo "round gate OK: $OUT vs $PREV"
