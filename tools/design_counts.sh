#!/bin/bash
# The two design-size numbers a simplification change reports:
#   - non-comment lines of Scala under src/main (blank lines and lines
#     starting with //, /** or * are not counted);
#   - distinct "spark.graft.*" conf keys named in src/main.
#
# Usage: tools/design_counts.sh [repo-root]   (default: the current dir)
set -eu
ROOT=${1:-.}
lines=$(find "$ROOT/src/main" -name '*.scala' | xargs cat \
  | grep -v '^\s*$' | grep -v '^\s*\(//\|/\*\*\|\*\)' | wc -l)
keys=$(grep -rhoE '"spark\.graft\.[A-Za-z0-9_.]+"' "$ROOT/src/main" | sort -u | wc -l)
echo "non_comment_lines_src_main $lines"
echo "distinct_spark_graft_keys $keys"
