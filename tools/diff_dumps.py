#!/usr/bin/env python3
"""Compare two graft.Verify dumps row for row, in order.

Usage: python3 tools/diff_dumps.py PARENT_DIR CHANGE_DIR

Each dump holds one parquet directory per query (what graft.Verify
writes). For every query in either dump, the two results must have the
same columns in the same order, the same types and the same rows in the
same order; nulls and NaNs compare equal to themselves. A plan change
that keeps the rows but reorders ties under the final sort shows up
here, where tools/check_oracle.py (which sorts before comparing) would
pass it.

Prints one line per differing query and a summary; exits 1 if any query
differs or is missing from either dump, 0 otherwise.
"""
import glob
import os
import sys

import pandas as pd


def queries(dump):
    return {d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d))}


def load(dump, name):
    files = sorted(glob.glob(os.path.join(dump, name, "*.parquet")))
    if not files:
        return None
    # one reader thread: pyarrow's pool aborted the interpreter at exit
    # on some runs
    return pd.concat([pd.read_parquet(f, use_threads=False) for f in files], ignore_index=True)


def difference(a, b):
    """Why frames a and b differ, or None when they are equal."""
    if a is None or b is None:
        return "no parquet output in " + ("parent" if a is None else "change")
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if list(a.dtypes) != list(b.dtypes):
        return f"types {list(a.dtypes)} vs {list(b.dtypes)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs {len(b)}"
    if a.equals(b):
        return None
    for i in range(len(a)):
        if not a.iloc[[i]].reset_index(drop=True).equals(b.iloc[[i]].reset_index(drop=True)):
            return f"first differing row {i}: {a.iloc[i].tolist()} vs {b.iloc[i].tolist()}"
    return "frames differ"


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        sys.exit(2)
    parent, change = sys.argv[1], sys.argv[2]
    names = sorted(queries(parent) | queries(change))
    differing = []
    for name in names:
        why = difference(load(parent, name), load(change, name))
        if why is not None:
            differing.append(name)
            print(f"DIFF {name}: {why}")
    print(f"{len(names) - len(differing)}/{len(names)} queries equal row for row, in order")
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
