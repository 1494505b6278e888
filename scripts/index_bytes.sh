#!/usr/bin/env bash
# Bytes of each top-level structure of an index directory (postings,
# positions, docs, forward, ..., manifest files), largest first, then the
# total. Counts regular files whose names do not start with "." (Spark's
# .crc checksum files are left out), the same rule as perfbench's
# index_bytes_per_input_byte.
#
# Usage: scripts/index_bytes.sh <indexDir>
set -euo pipefail
dir="${1:?usage: $0 <indexDir>}"
[ -d "$dir" ] || { echo "not a directory: $dir" >&2; exit 1; }
for e in "$dir"/*; do
  [ -e "$e" ] || continue
  b=$(find "$e" -type f ! -name '.*' -printf '%s\n' | awk '{ s += $1 } END { print s + 0 }')
  printf '%s %s\n' "$(basename "$e")" "$b"
done | sort -k2,2nr | awk '{ printf "%-24s %12d\n", $1, $2; t += $2 }
  END { printf "%-24s %12d\n", "TOTAL", t }'
