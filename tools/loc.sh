#!/usr/bin/env bash
# Code-only Scala line counts for src/main and src/test: every line of
# the .scala files except blank lines, lines that hold only a `//`
# comment, and the lines of /* ... */ and /** ... */ comment blocks
# (a line where code follows a block's closing `*/` is counted).
#
# usage: tools/loc.sh [repo root, default: this script's parent]
# prints: "main <n>", "test <n>", "total <n>"; reads only src/.
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"

count() {
  find "$root/src/$1" -name '*.scala' -print0 | sort -z |
    xargs -0 -r awk '
      FNR == 1 { inblock = 0 }
      {
        line = $0
        sub(/^[ \t]+/, "", line); sub(/[ \t\r]+$/, "", line)
        if (inblock) {
          i = index(line, "*/")
          if (i == 0) next
          inblock = 0
          line = substr(line, i + 2); sub(/^[ \t]+/, "", line)
        }
        if (line == "" || line ~ /^\/\//) next
        if (line ~ /^\/\*/) {
          if (index(substr(line, 3), "*/") == 0) { inblock = 1; next }
          rest = substr(line, index(substr(line, 3), "*/") + 4)
          sub(/^[ \t]+/, "", rest)
          if (rest == "" || rest ~ /^\/\//) next
        }
        n++
      }
      END { print n + 0 }'
}

main=$(count main)
test=$(count test)
echo "main $main"
echo "test $test"
echo "total $((main + test))"
