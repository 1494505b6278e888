#!/usr/bin/env python3
"""Rows and bytes per column of every parquet structure of an index directory.

A structure is any directory under <indexDir> that directly holds parquet
part files (postings, positions, docs, ..., and the structures of appended
segments under segments/). For each one it prints the row count, the file
count and the files' bytes, then one line per column: the physical type and
the compressed bytes summed over all row groups (the column chunks' sizes
from the parquet footers; nothing is decompressed or scanned). Files whose
names start with "." or "_" (checksums, markers) are skipped.

Usage: scripts/index_columns.py <indexDir> [structure ...]
  With structure names (paths relative to <indexDir>, e.g. positions or
  postings-v3), only those are printed.
"""
import os
import sys

import pyarrow.parquet as pq


def structures(root):
    for d, _, names in sorted(os.walk(root)):
        files = sorted(os.path.join(d, n) for n in names
                       if n.endswith(".parquet") and n[0] not in "._")
        if files:
            yield os.path.relpath(d, root), files


def report(name, files):
    rows = 0
    cols = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                ent = cols.setdefault(cc.path_in_schema, [cc.physical_type, 0])
                ent[1] += cc.total_compressed_size
    size = sum(os.path.getsize(f) for f in files)
    print(f"{name}  rows {rows:,}  files {len(files)}  bytes {size:,}")
    for path, (ptype, nbytes) in cols.items():
        print(f"  {path:<24} {ptype:<12} {nbytes:>14,}")


def main(argv):
    if len(argv) < 2 or not os.path.isdir(argv[1]):
        sys.exit("usage: scripts/index_columns.py <indexDir> [structure ...]")
    wanted = set(argv[2:])
    for name, files in structures(argv[1]):
        if not wanted or name in wanted:
            report(name, files)


if __name__ == "__main__":
    main(sys.argv)
