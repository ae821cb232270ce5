#!/usr/bin/env sh
# Prints the Scala code lines (not blank, not comment) under src/main and
# src/test, then those of the paper core inside src/main: the corpus
# pipeline, both topic models, their data model, CLI, session and the
# reference's file formats. Run from the repository root: tools/loc.sh
set -eu
count() {
  xargs grep -HcvE '^[[:space:]]*($|//|\*|/\*)' | awk -F: '{s+=$2} END{print s}'
}
for tree in main test; do
  echo "$tree $(find "src/$tree" -name '*.scala' | count)"
done
g=src/main/scala/graft
echo "core $(find $g/lda $g/polylda $g/corpus $g/model $g/util $g/functions $g/cli \
  $g/GraftSession.scala $g/GraftExtensions.scala src/main/scala/org/apache/spark/sql/graftshim \
  $g/sources/Mrlda*.scala -name '*.scala' | count)"
