#!/bin/bash
# Robustness matrix: full Verify + hash parity under each CLAUDE.md
# config (default, codegen-off, AQE-off, cpus=5). Each config gets a
# FRESH index-store dir so standing-index BUILDS, not just serving, run
# under the config. Prints one parity.py summary line per config; the
# Verify logs and dumps stay under <outRoot>/<config>/.
#
# Usage: tools/matrix.sh <dataDir> <outRoot>
#   e.g. tools/matrix.sh data/sf0.01 out/matrix
set -u
[ $# -eq 2 ] || { echo "usage: $0 <dataDir> <outRoot>" >&2; exit 2; }
DATA=$1 ROOT=$2
TOOLS=$(cd "$(dirname "$0")" && pwd)
run() {
  local name=$1 cpus=$2 opts=$3
  local dir=$ROOT/$name
  rm -rf "$dir" && mkdir -p "$dir"
  GRAFT_JAVA_OPTS="$opts" SPARK_GRAFT_INDEX_DIR="$dir/index" SPARK_GRAFT_CPUS=$cpus \
    "$TOOLS/run_main.sh" graft.Verify "$DATA" "$dir/out" > "$dir/verify.log" 2>&1
  echo "$name (cpus=$cpus): $(python3 "$TOOLS/parity.py" "$DATA" "$dir/out" 2>&1 | tail -1)"
}
run default 8 ""
run codegen-off 8 "-Dspark.sql.codegen.wholeStage=false -Dspark.sql.codegen.factoryMode=NO_CODEGEN"
run aqe-off 8 "-Dspark.sql.adaptive.enabled=false"
run cpus5 5 ""
