#!/bin/bash
# Invariance audit: results must not depend on parallelism, AQE or codegen.
# Runs graft.Verify over <data_dir> once as the base (local[$SPARK_GRAFT_CPUS],
# default 4) and once per axis, then diffs each axis dump against the base
# with tools/digest_dump.py --diff. Exits non-zero if any run fails or any
# axis differs from the base.
#
#   tools/invariance.sh <data_dir> <out_root>
#
# Axes: cpu3 (local[3], 3 shuffle partitions), aqeoff
# (spark.sql.adaptive.enabled=false), nocodegen (whole-stage codegen off,
# expression codegen off). Dumps and logs land in <out_root>/<axis>{,.log}.
# Runs are sequential: never two JVMs at once.
set -euo pipefail
if [ $# -ne 2 ]; then
  echo "usage: $0 <data_dir> <out_root>" >&2
  exit 2
fi
data=$(cd "$1" && pwd)
mkdir -p "$2"
out=$(cd "$2" && pwd)
cd "$(dirname "$0")/.."
cpus=${SPARK_GRAFT_CPUS:-4}

run() { # <axis> <cpus> [java system properties]
  local axis=$1 n=$2
  shift 2
  rm -rf "$out/$axis"
  if ! JAVA_TOOL_OPTIONS="$*" SPARK_GRAFT_CPUS=$n \
      sbt -batch "runMain graft.Verify $data $out/$axis" >"$out/$axis.log" 2>&1; then
    echo "=== $axis: graft.Verify failed, see $out/$axis.log" >&2
    exit 1
  fi
  echo "=== $axis done"
}

run base "$cpus"
run cpu3 3
run aqeoff "$cpus" -Dspark.sql.adaptive.enabled=false
run nocodegen "$cpus" -Dspark.sql.codegen.wholeStage=false \
  -Dspark.sql.codegen.factoryMode=NO_CODEGEN

status=0
for axis in cpu3 aqeoff nocodegen; do
  echo "--- base vs $axis:"
  python3 tools/digest_dump.py --diff "$out/base" "$out/$axis" || status=1
done
exit $status
