#!/bin/bash
# The three design-size numbers a simplification change reports:
#   - non-comment lines of Scala under src/main (blank lines and lines
#     starting with //, /** or * are not counted);
#   - distinct "spark.graft.*" conf keys named in src/main;
#   - public src/main definitions with no caller in src/main.
#
# The third number is an APPROXIMATE name grep, not a compiler query: a
# `def` counts as public unless its line says private/protected/override,
# and it counts as uncalled when its name occurs in src/main only on its
# own definition lines. Uses are counted with comments stripped (whole
# `//`, `/*` and scaladoc `*` lines, and a trailing ` // ...`), so a name
# that only a scaladoc `[[...]]` mentions counts as uncalled. Overloads
# and same-named members in different objects share one name; `main` is
# skipped (entry points). Callers in src/test, perfbench and tools are
# not counted on purpose: the number is what only a test or an outside
# tool keeps alive. The last line lists those names.
#
# Usage: tools/design_counts.sh [repo-root]   (default: the current dir)
set -eu
ROOT=${1:-.}
lines=$(find "$ROOT/src/main" -name '*.scala' | xargs cat \
  | grep -v '^\s*$' | grep -v '^\s*\(//\|/\*\*\|\*\)' | wc -l)
keys=$(grep -rhoE '"spark\.graft\.[A-Za-z0-9_.]+"' "$ROOT/src/main" | sort -u | wc -l)
defs=$(grep -rhE '^\s*(final |implicit |@[A-Za-z]+ )*def [A-Za-z_][A-Za-z0-9_]*' \
    --include='*.scala' "$ROOT/src/main" \
  | grep -vE '\b(private|protected|override)\b' \
  | sed -E 's/.*\bdef ([A-Za-z_][A-Za-z0-9_]*).*/\1/' | grep -vx main \
  | sort | uniq -c | awk '{print $2, $1}' | sort)
uses=$(find "$ROOT/src/main" -name '*.scala' | xargs cat \
  | grep -v '^\s*\(//\|/\*\|\*\)' | sed -E 's#[[:space:]]//[[:space:]].*$##' \
  | grep -oE '\b[A-Za-z_][A-Za-z0-9_]*\b' \
  | sort | uniq -c | awk '{print $2, $1}' | sort)
uncalled=$(join -a 1 -e 0 -o 0,1.2,2.2 <(echo "$defs") <(echo "$uses") \
  | awk '$3 <= $2 {print $1}')
echo "non_comment_lines_src_main $lines"
echo "distinct_spark_graft_keys $keys"
echo "uncalled_public_defs_src_main $(echo -n "$uncalled" | grep -c .)"
echo "uncalled:" $uncalled
