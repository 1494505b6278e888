#!/usr/bin/env bash
# Non-blank, non-comment lines of the Scala sources under src/main, per
# package directory, plus the total. Comment lines are `//` lines and
# every line of a `/* ... */` block; a line mixing code and a trailing
# comment counts as code.
#
# Usage: scripts/loc.sh [repo-root]   (default: the repository this script is in)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$root/src/main/scala"
find . -name '*.scala' | sort | while read -r f; do
  n=$(awk '
    { line = $0; sub(/^[ \t]+/, "", line) }
    inblock { if (index(line, "*/")) { inblock = 0; rest = substr(line, index(line, "*/") + 2); sub(/^[ \t]+/, "", rest); if (rest != "") code++ } next }
    line == "" { next }
    substr(line, 1, 2) == "//" { next }
    substr(line, 1, 2) == "/*" { if (!index(substr(line, 3), "*/")) inblock = 1; next }
    { code++ }
    END { print code + 0 }' "$f")
  printf '%s %s\n' "$(dirname "${f#./}")" "$n"
done | awk '{ s[$1] += $2; t += $2 }
  END { for (p in s) printf "%-32s %6d\n", p, s[p] | "sort"; close("sort")
        printf "%-32s %6d\n", "TOTAL", t }'
