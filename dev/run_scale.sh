#!/bin/bash
# The scale measurement ritual: the sf0.1 bench, then the contract-checked
# ScaleBench at each factor (IVF cap 64; the first factor is the record
# leg), then the RProbe dispatch statistic on the replicas.
#
#   dev/run_scale.sh <tag> [factors...]        (default factors: 80 20 10)
#
# Records land in dev/records/ under <tag> (e.g. 158q_r19):
#   bench_sf0.1_<tag>.json, bench_passes_sf0.1_<tag>.json,
#   scale_bench_<f>x_cap64_<tag>.json, rprobe_<round>.txt
# where <round> is the tag's last `_` field. Logs go to $TMPDIR.
set -e
tag=${1:?usage: dev/run_scale.sh <tag> [factors...]}
shift
factors=${*:-80 20 10}
logs=${TMPDIR:-/tmp}
cd "$(dirname "$0")/.."
echo "=== bench sf0.1 $(date +%T)"
# unset so Bench reads its default SF dir, sf0.1, which the record names promise
env -u SPARK_GRAFT_SF_DIR sbt -batch "runMain graft.Bench" > "$logs/bench_sf01_$tag.log" 2>&1
cp target/bench.json "dev/records/bench_sf0.1_$tag.json"
cp target/bench_passes.json "dev/records/bench_passes_sf0.1_$tag.json"
for f in $factors; do
  echo "=== ${f}x cap64 $(date +%T)"
  SPARK_GRAFT_SCALE_FACTOR=$f SPARK_GRAFT_IVF_K_CAP=64 \
    sbt -batch "runMain graft.ScaleBench" > "$logs/scale_${f}x_$tag.log" 2>&1
  cp target/scale_bench.json "dev/records/scale_bench_${f}x_cap64_$tag.json"
done
echo "=== rprobe $(date +%T)"
sbt -batch "Test/runMain graft.RProbe" 2>/dev/null | grep RPROBE \
  | tee "dev/records/rprobe_${tag##*_}.txt" || true
echo "=== CHAIN_DONE $(date +%T)"
