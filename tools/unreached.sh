#!/bin/bash
# Lists the defs the program never reaches: every `def` under
# src/main/scala/graft/{operators,streaming,sources,functions} whose name
# the code of src/main and perfbench/src mentions only where a def of that
# name stands. Comments are stripped first (a Scaladoc link is not a
# call), and `override def`s and `main`s are skipped (Spark or the JVM
# calls them). Names are matched as whole words, so two defs sharing a
# name count as one: an overload with a caller hides its unreached twin,
# and so does a column or string literal spelled like the name.
#
# Output, one def a line, sorted by file:
#   <test refs> <name> <file>:<line>
# where <test refs> counts the mentions of the name in src/test code.
#
#   tools/unreached.sh
set -euo pipefail
cd "$(dirname "$0")/.."

# code only: drop // comments and lines that open or continue a /* */ block
strip() {
  sed -E -e 's#(^|[^:"])//.*$#\1#' -e '/^[[:space:]]*(\/\*|\*)/d' "$@"
}
words() {
  strip "$@" | grep -oE '[A-Za-z_][A-Za-z0-9_]*' || true
}

main_files=$(find src/main/scala perfbench/src -name '*.scala' | sort)
test_files=$(find src/test/scala -name '*.scala' | sort)
scan_files=$(find src/main/scala/graft/operators src/main/scala/graft/streaming \
  src/main/scala/graft/sources src/main/scala/graft/functions -name '*.scala' | sort)

# shellcheck disable=SC2086
awk -v MAIN=<(words $main_files | sort | uniq -c) \
    -v DEFS=<(strip $main_files | grep -oE '\bdef[[:space:]]+[A-Za-z_][A-Za-z0-9_]*' \
      | awk '{print $2}' | sort | uniq -c) \
    -v TEST=<(words $test_files | sort | uniq -c) '
  BEGIN {
    while ((getline l < MAIN) > 0) { split(l, f, " "); main[f[2]] = f[1] }
    while ((getline l < DEFS) > 0) { split(l, f, " "); defs[f[2]] = f[1] }
    while ((getline l < TEST) > 0) { split(l, f, " "); test[f[2]] = f[1] }
  }
  {
    # input: <file>:<line>:<source line>
    i = index($0, ":"); file = substr($0, 1, i - 1); rest = substr($0, i + 1)
    j = index(rest, ":"); line = substr(rest, 1, j - 1); src = substr(rest, j + 1)
    if (src ~ /override[[:space:]]/) next
    if (!match(src, /def[[:space:]]+[A-Za-z_][A-Za-z0-9_]*/)) next
    name = substr(src, RSTART, RLENGTH); sub(/^def[[:space:]]+/, "", name)
    if (name != "main" && main[name] == defs[name])
      printf "%d %s %s:%s\n", test[name] + 0, name, file, line
  }' < <(
    # shellcheck disable=SC2086
    grep -nHE '^[[:space:]]*((private|protected)(\[[A-Za-z]+\])?[[:space:]]+|final[[:space:]]+|implicit[[:space:]]+)*def[[:space:]]' $scan_files
  )
