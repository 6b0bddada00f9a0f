#!/usr/bin/env python3
"""Decoded-table parity of two Verify output directories.

Usage: same_dumps.py <parentOut> <changeOut> [q1,q2,...]

For every query dump (a directory of parquet part files) present in either
output, reads the part files in name order into one table and checks that
the two tables are equal as decoded data: the same schema with its
metadata (Spark's row-metadata JSON included), the same rows, in the same
order. Parquet bytes are not compared: two Verify runs of one commit write
different footers. The optional third argument restricts the check to the
named queries (exact names or qNN prefixes, as in compare.py).

Prints one line per differing query and a summary; exits 1 on any
difference, 0 when every checked dump is equal.
"""
import glob
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def dumps(out_dir):
    return {os.path.basename(os.path.dirname(f))
            for f in glob.glob(f"{out_dir}/*/*.parquet")}


def read(out_dir, name):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    return pa.concat_tables([pq.read_table(f) for f in files])


def canon(v):
    """A decoded value with NaN made equal to itself, at any depth."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    return v


def diff(a, b):
    """None when the decoded tables are equal, else a one-line reason."""
    if not a.schema.equals(b.schema, check_metadata=True):
        return f"schema differs: {a.schema} vs {b.schema}".replace("\n", "; ")
    if a.num_rows != b.num_rows:
        return f"rows differ: {a.num_rows} vs {b.num_rows}"
    if a.equals(b):
        return None
    # Table.equals treats NaN as unequal to itself; settle row by row
    for i, (ra, rb) in enumerate(zip(a.to_pylist(), b.to_pylist())):
        if canon(ra) != canon(rb):
            return f"values or row order differ, first at row {i}: {ra} vs {rb}"
    return None


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    parent, change = argv[1], argv[2]
    names = dumps(parent) | dumps(change)
    if len(argv) == 4:
        only = set(argv[3].split(","))
        names = {n for n in names if n in only or n.split("_")[0] in only}
        missing = {o for o in only
                   if not any(n == o or n.split("_")[0] == o for n in names)}
        for o in sorted(missing):
            print(f"DIFF {o}: no dump in either output")
    else:
        missing = set()
    bad = len(missing)
    for name in sorted(names):
        if not glob.glob(f"{parent}/{name}/*.parquet"):
            reason = "no dump in the parent output"
        elif not glob.glob(f"{change}/{name}/*.parquet"):
            reason = "no dump in the change output"
        else:
            reason = diff(read(parent, name), read(change, name))
        if reason is not None:
            print(f"DIFF {name}: {reason}")
            bad += 1
    print(f"{len(names) - bad + len(missing)}/{len(names) + len(missing)} "
          "dumps equal as decoded tables")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
