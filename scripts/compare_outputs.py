#!/usr/bin/env python3
"""Compare two graft.pipeline.Cli output directories cell by cell.

    python3 scripts/compare_outputs.py A B

Both directories must hold the same part files: every non-hidden file,
by path relative to the directory. Parquet parts must have the same
Arrow schema and row count; float64 cells compare by bit pattern (NaN
payloads and the sign of zero count) and every other cell by value
(NaN equal to NaN). Other part files (.h5ad) compare byte for byte.

Prints the count of differing cells per column and exits 1 on any
difference, 0 when the outputs are identical.
"""
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def part_files(root):
    found = set()
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                found.add(os.path.relpath(os.path.join(d, f), root))
    return found


def same_value(x, y):
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
        return True
    return x == y


def differing_cells(a, b):
    """count of rows where two equally long Arrow columns differ"""
    a = a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
    b = b.combine_chunks() if isinstance(b, pa.ChunkedArray) else b
    if pa.types.is_float64(a.type):
        va = a.is_valid().to_numpy(zero_copy_only=False)
        vb = b.is_valid().to_numpy(zero_copy_only=False)
        xa = a.fill_null(0.0).to_numpy().view(np.uint64)
        xb = b.fill_null(0.0).to_numpy().view(np.uint64)
        return int(np.count_nonzero((va != vb) | (va & (xa != xb))))
    return sum(1 for x, y in zip(a.to_pylist(), b.to_pylist()) if not same_value(x, y))


def compare_parquet(pa_path, pb_path, rel, diffs):
    ta, tb = pq.read_table(pa_path), pq.read_table(pb_path)
    if not ta.schema.equals(tb.schema, check_metadata=False):
        print(f"{rel}: schemas differ")
        diffs[(rel, "<schema>")] = 1
        return
    if ta.num_rows != tb.num_rows:
        print(f"{rel}: {ta.num_rows} rows vs {tb.num_rows}")
        diffs[(rel, "<rows>")] = abs(ta.num_rows - tb.num_rows)
        return
    for name in ta.column_names:
        n = differing_cells(ta.column(name), tb.column(name))
        if n:
            diffs[(rel, name)] = n


def main(argv):
    if len(argv) != 3:
        raise SystemExit("usage: compare_outputs.py A B")
    a, b = argv[1], argv[2]
    fa, fb = part_files(a), part_files(b)
    diffs = {}
    for rel in sorted(fa ^ fb):
        print(f"{rel}: only in {a if rel in fa else b}")
        diffs[(rel, "<file>")] = 1
    cells = files = 0
    for rel in sorted(fa & fb):
        pa_path, pb_path = os.path.join(a, rel), os.path.join(b, rel)
        if rel.endswith(".parquet"):
            compare_parquet(pa_path, pb_path, rel, diffs)
            meta = pq.read_metadata(pa_path)
            cells += meta.num_rows * meta.num_columns
        else:
            files += 1
            with open(pa_path, "rb") as x, open(pb_path, "rb") as y:
                if x.read() != y.read():
                    diffs[(rel, "<bytes>")] = 1
    for (rel, col), n in sorted(diffs.items()):
        print(f"{rel}\t{col}\t{n}")
    total = sum(diffs.values())
    print(f"{len(fa & fb)} common part files: {cells} parquet cells, {files} files "
          f"compared byte for byte; {total} differing cells in {len(diffs)} columns")
    return 1 if total else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
