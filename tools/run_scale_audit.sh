#!/bin/bash
# Scale-curve audit: builds the synthetic ×10/×100 decades from sf0.1, then
# benches one query family at six scales (min-of-3, local[32], 48g driver;
# the x100uniq leg's 500k-doc pair graphs OOM the 8g default).
#
#   tools/run_scale_audit.sh <q_name,q_name,...> <testdata_dir>
#
# <testdata_dir> holds sf0.001, sf0.01 and sf0.1. Scaled corpora are built
# once into target/scale (ScaleUp is deterministic); per-scale results land
# in target/scale_bench_<scale>.json and logs in target/scale_logs/.
# Sequential: never two JVMs. Fit:
#   python3 tools/fit_scale.py 1:sf0.1=target/scale_bench_sf0.1.json \
#     10:x10uniq=target/scale_bench_x10uniq.json \
#     100:x100uniq=target/scale_bench_x100uniq.json
set -euo pipefail
if [ $# -ne 2 ]; then
  echo "usage: $0 <q_name,q_name,...> <testdata_dir>" >&2
  exit 2
fi
FAM=$1
data=$(cd "$2" && pwd)
cd "$(dirname "$0")/.."
mkdir -p target/scale_logs

for spec in x10uniq:10:uniq x10dup:10:dup x100uniq:100:uniq; do
  IFS=: read -r name factor mode <<<"$spec"
  if [ ! -d "target/scale/$name" ]; then
    sbt -batch "runMain graft.tools.ScaleUp $data/sf0.1 target/scale/$name $factor $mode" \
      >"target/scale_logs/scaleup_$name.log" 2>&1
  fi
done

for tag in sf0.001:$data/sf0.001 sf0.01:$data/sf0.01 sf0.1:$data/sf0.1 \
    x10uniq:target/scale/x10uniq x10dup:target/scale/x10dup \
    x100uniq:target/scale/x100uniq; do
  name="${tag%%:*}"; dir="${tag#*:}"
  SPARK_DRIVER_MEM=48g SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_RUNS=3 SPARK_GRAFT_BENCH_ONLY="$FAM" \
    sbt -batch "runMain graft.Bench" >"target/scale_logs/bench_$name.log" 2>&1
  cp target/bench_full.json "target/scale_bench_$name.json"
  echo "=== $name done: $(grep -o '"value":[0-9.]*' "target/scale_bench_$name.json" | head -1)"
done
echo ALL_DONE
