#!/usr/bin/env python3
"""Report the on-disk size and vector width of every catalog-managed index.

Reads the index manifest `_indexcat.json` of a catalog root and prints one
row per index: name, kind, file count, bytes (Hadoop `.crc` checksum files
excluded) and the element type of each array column the index stores, as
`<table>.<column>:<element>`, where `<table>` is the sub-table directory
(`k=v` partition directories are not tables), or `<column>:<element>` for
a column of the index root.
A last row totals files and bytes.

Usage: tools/index_bytes.py <catalog root>
The catalog root is the directory holding `_indexcat.json`; given a
directory without one (a `java.io.tmpdir`), every `*/_indexcat.json` one
level below it is reported in turn.
"""
import glob
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def table_of(rel_dir):
    """The sub-table a data file belongs to: its directory with partition
    (`k=v`) components dropped."""
    parts = [p for p in rel_dir.split(os.sep) if p and p != "." and "=" not in p]
    return "/".join(parts)


def element(t):
    return str(t.value_type) if pa.types.is_list(t) or pa.types.is_large_list(t) else None


def scan(path):
    files = 0
    size = 0
    schemas = {}
    for root, _, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".crc"):
                continue
            f = os.path.join(root, n)
            files += 1
            size += os.path.getsize(f)
            if n.endswith(".parquet"):
                t = table_of(os.path.relpath(root, path))
                if t not in schemas:
                    schemas[t] = pq.read_schema(f)
    arrays = []
    for t in sorted(schemas):
        for field in schemas[t]:
            e = element(field.type)
            if e is not None:
                arrays.append(f"{t + '.' if t else ''}{field.name}:{e}")
    return files, size, arrays


def report(root):
    with open(os.path.join(root, "_indexcat.json")) as fh:
        entries = sorted(json.load(fh), key=lambda m: m["name"])
    print(f"# {root}")
    print("name\tkind\tfiles\tbytes\tarrays")
    total_files = total_bytes = 0
    for m in entries:
        path = m["path"]
        if path.startswith("file:"):
            path = path[len("file:"):]
        files, size, arrays = scan(path)
        total_files += files
        total_bytes += size
        print(f"{m['name']}\t{m['kind']}\t{files}\t{size}\t{' '.join(arrays) or '-'}")
    print(f"total\t-\t{total_files}\t{total_bytes}\t-")


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.strip())
    arg = argv[1]
    roots = ([arg] if os.path.exists(os.path.join(arg, "_indexcat.json"))
             else sorted(os.path.dirname(p) for p in glob.glob(os.path.join(arg, "*", "_indexcat.json"))))
    if not roots:
        sys.exit(f"no _indexcat.json in {arg} or one level below it")
    for r in roots:
        report(r)


if __name__ == "__main__":
    main(sys.argv)
