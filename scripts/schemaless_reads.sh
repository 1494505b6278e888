#!/usr/bin/env bash
# Parquet reads without a declared schema in the Scala sources under
# src/main: every `read.parquet(` call (also split over lines) with no
# `.schema(...)` between `read` and `.parquet(`. Spark infers the schema
# of such a read, which costs one Spark job per read. Lists each call site
# as file:line, then the count per package directory (every package, zero
# included) and the total.
#
# Usage: scripts/schemaless_reads.sh [repo-root]   (default: the repository this script is in)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$root/src/main/scala"
sites=$(find . -name '*.scala' | sort | while read -r f; do
  perl -0777 -ne 'while (/\bread\s*\.parquet\(/g) {
      my $line = (substr($_, 0, $-[0]) =~ tr/\n//) + 1;
      print "$ARGV:$line\n" }' "$f"
done)
[ -n "$sites" ] && printf '%s\n' "$sites" | sed 's|^\./||'
echo "--"
{
  find . -name '*.scala' -printf '%h 0\n'
  [ -n "$sites" ] && printf '%s\n' "$sites" | sed 's|:.*||' | xargs -n1 dirname | sed 's/$/ 1/'
} | sed 's|^\./||' | awk '{ s[$1] += $2; t += $2 }
  END { for (p in s) printf "%-32s %6d\n", p, s[p] | "sort"; close("sort")
        printf "%-32s %6d\n", "TOTAL", t }'
