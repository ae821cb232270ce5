#!/usr/bin/env sh
# Prints the Scala code lines (not blank, not comment) under src/main and
# src/test. Run from the repository root: tools/loc.sh
set -eu
for tree in main test; do
  n=$(find "src/$tree" -name '*.scala' | xargs grep -cvE '^[[:space:]]*($|//|\*|/\*)' \
    | awk -F: '{s+=$2} END{print s}')
  echo "$tree $n"
done
