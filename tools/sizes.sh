#!/usr/bin/env bash
# Print three size figures of the main code, one per line:
#   lines    code lines under src/main (blank, //, * and /** lines excluded)
#   confs    distinct spark.graft.* conf keys named in src/main
#   envs     distinct SPARK_GRAFT_* environment knobs named in src/main
# Run from anywhere: bash tools/sizes.sh
set -euo pipefail
cd "$(dirname "$0")/.."
files=$(find src/main -name '*.scala' | sort)
lines=$(cat $files | grep -cvE '^\s*($|//|\*|/\*\*)')
confs=$(grep -ohE '"spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]"' $files | sort -u | wc -l)
envs=$(grep -ohE 'SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]' $files | sort -u | wc -l)
echo "lines $lines"
echo "confs $confs"
echo "envs $envs"
