#!/usr/bin/env python3
"""Report what each committed version of a versioned store references.

Usage: python3 tools/store_report.py ROOT

ROOT is an IndexStore or ZStore root on the local filesystem. For every
committed version (a `v<N>` directory holding `_SUCCESS`) it prints the
manifest's entries: a pair version's base directory, centroid directory
and delta files with their manifest row counts (z-store versions list
their bucket files), then the data files and bytes the version
references. A version without a manifest (an index-only
`IndexStore.writeVersioned` version) holds its own files. The last lines
give the bytes on disk under ROOT and the pool data files no committed
version references (what the next prune deletes, with staging debris).
"""
import json
import os
import re
import sys

KINDS = {-1: "base", -2: "centroids", -3: "delta"}


def files_under(path, visible=False):
    """Every file at or under `path`; with `visible`, only what a Spark
    scan of `path` lists (no `_`- or `.`-prefixed name below it, so a
    base directory does not count the centroid directory inside it)."""
    if os.path.isfile(path):
        return [path]
    out = []
    for d, dirs, names in os.walk(path):
        if visible:
            dirs[:] = [n for n in dirs if not n.startswith(("_", "."))]
            names = [n for n in names if not n.startswith(("_", "."))]
        out += [os.path.join(d, n) for n in names]
    return out


def is_data(path):
    return path.endswith(".parquet")


def size(paths):
    return sum(os.path.getsize(p) for p in paths)


def versions(root):
    vs = []
    for name in os.listdir(root):
        m = re.fullmatch(r"v(\d+)", name)
        if m and os.path.exists(os.path.join(root, name, "_SUCCESS")):
            vs.append(int(m.group(1)))
    return sorted(vs)


def report(root):
    referenced = set()
    vs = versions(root)
    if not vs:
        print(f"{root}: no committed version")
    for v in vs:
        vdir = os.path.join(root, f"v{v}")
        meta_path = os.path.join(vdir, "_meta.json")
        meta = open(meta_path).read().strip() if os.path.exists(meta_path) else "-"
        man_path = os.path.join(vdir, "_manifest.json")
        if not os.path.exists(man_path):
            own = [p for p in files_under(vdir) if is_data(p)]
            referenced.update(own)
            print(f"v{v}: no manifest (index-only); {len(own)} data files, "
                  f"{size(own):,} B in v{v}/; meta {meta}")
            continue
        with open(man_path) as f:
            entries = json.load(f)["files"]
        files = set()
        print(f"v{v}: meta {meta}")
        for e in entries:
            kind = KINDS.get(e["bucket"], f"bucket {e['bucket']}")
            under = [p for p in files_under(os.path.join(root, e["path"]), visible=True)
                     if is_data(p)]
            files.update(under)
            rows = e.get("rows", -1)
            shown = "rows ?" if rows < 0 else f"rows {rows:,}"
            print(f"  {kind:<10} {e['path']}  {shown}, {len(under)} data files, "
                  f"{size(under):,} B")
        referenced.update(files)
        print(f"  references {len(files)} data files, {size(files):,} B")
    on_disk = files_under(root)
    print(f"on disk under {root}: {len(on_disk)} files, {size(on_disk):,} B")
    pool = os.path.join(root, "data")
    loose = [p for p in files_under(pool) if is_data(p) and p not in referenced] \
        if os.path.isdir(pool) else []
    print(f"unreferenced pool data files: {len(loose)}, {size(loose):,} B")
    for p in sorted(loose):
        print(f"  {os.path.relpath(p, root)}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    report(sys.argv[1])
