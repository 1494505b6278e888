#!/usr/bin/env bash
# Call sites of `createExclusive(` — the storage layer's one-winner claim
# primitive — in the Scala sources under src/main, outside the `graft/io`
# package that implements it. Every commit should claim through one place,
# so this lists each call site as file:line, then the count per package
# directory (every package, zero included) and the total.
#
# Usage: scripts/claim_sites.sh [repo-root]   (default: the repository this script is in)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$root/src/main/scala"
sites=$(find . -name '*.scala' -not -path './graft/io/*' | sort | while read -r f; do
  perl -ne 'print "$ARGV:$.\n" if /\bcreateExclusive\s*\(/ && !m{^\s*(//|\*|/\*)}' "$f"
done)
[ -n "$sites" ] && printf '%s\n' "$sites" | sed 's|^\./||'
echo "--"
{
  find . -name '*.scala' -not -path './graft/io/*' -printf '%h 0\n'
  [ -n "$sites" ] && printf '%s\n' "$sites" | sed 's|:.*||' | xargs -n1 dirname | sed 's/$/ 1/'
} | sed 's|^\./||' | awk '{ s[$1] += $2; t += $2 }
  END { for (p in s) printf "%-32s %6d\n", p, s[p] | "sort"; close("sort")
        printf "%-32s %6d\n", "TOTAL", t }'
