#!/usr/bin/env python3
"""Directories under an index that its manifest does not name.

An index directory's manifest.json names the directories its records own:
every record extra called "dir" or ending in "Dir", relative to the index
directory. This lists every directory under <indexDir> that is neither
named nor an ancestor of a named one, one path (relative to <indexDir>) per
line, and exits 1 if there is any.

A named directory is not looked into, except when it holds a manifest.json
of its own (an appended segment's sub-index, segments/segN, or a table
compaction's rebuild-vN): that sub-index is checked the same way, against
its own manifest plus what the outer manifest names inside it. The commit
log (commits/) and the metrics table (metrics/) of every index are never
reported.

Usage: scripts/unnamed_dirs.py <indexDir>
"""
import json
import os
import sys

SKIP = {"commits", "metrics"}


def named(index):
    """The directories index/manifest.json names, relative to index."""
    with open(os.path.join(index, "manifest.json")) as f:
        stages = json.load(f)["stages"]
    return {v.strip("/") for r in stages.values()
            for k, v in r["extra"].items() if k == "dir" or k.endswith("Dir")}


def unnamed(index, outer=frozenset()):
    """Unnamed directories under the index at `index`; `outer` holds what an
    enclosing manifest names inside it."""
    owned = named(index) | set(outer)
    found = []

    def walk(rel):
        d = os.path.join(index, rel)
        for name in sorted(os.listdir(d)):
            path = os.path.join(rel, name) if rel else name
            full = os.path.join(index, path)
            if not os.path.isdir(full) or (not rel and name in SKIP):
                continue
            inner = {n[len(path) + 1:] for n in owned
                     if n.startswith(path + "/")}
            if os.path.isfile(os.path.join(full, "manifest.json")) and (
                    path in owned or inner):
                found.extend(os.path.join(path, u)
                             for u in unnamed(full, inner))
            elif inner:
                walk(path)
            elif path not in owned:
                found.append(path)

    walk("")
    return found


def main(argv):
    if len(argv) != 2 or not os.path.isfile(
            os.path.join(argv[1], "manifest.json")):
        sys.exit(f"usage: {argv[0]} <indexDir>  (a directory with a "
                 "manifest.json)")
    found = unnamed(argv[1])
    for p in found:
        print(p)
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
