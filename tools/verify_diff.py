#!/usr/bin/env python3
"""Per-key compare of two graft.Verify dumps: the values-must-match check.

Usage: python3 tools/verify_diff.py A B [key...]

graft.Verify writes each key's result as Spark part files named by a
random UUID under <dir>/<key>/, so `diff -r` of two dumps of equal results
lists every file. This reads each key dir on both sides with pyarrow and
compares the column names and types, then the rows as a sorted multiset
(row order is not compared). Keys default to the union of both dumps' key
dirs. Prints each key that differs or is missing on one side, then a
summary; exits 1 if any key does.

Dev tooling only — the engine itself is pure Scala/Spark.
"""
import os
import sys

import pyarrow.parquet as pq


def key_dirs(d):
    return {k for k in os.listdir(d) if os.path.isdir(os.path.join(d, k))}


def load(d, key):
    """(column names, column types, sorted row reprs) of one key dir;
    pyarrow skips the `_SUCCESS` and `.crc` files Spark leaves beside the
    parts."""
    t = pq.read_table(os.path.join(d, key))
    rows = sorted(repr(tuple(r.values())) for r in t.to_pylist())
    return t.schema.names, [str(f.type) for f in t.schema], rows


def diff(a, b, key):
    """Why `key` differs between dumps `a` and `b`, or None if it does not."""
    missing = [d for d in (a, b) if not os.path.isdir(os.path.join(d, key))]
    if missing:
        return "missing in " + ", ".join(missing)
    try:
        (na, ta, ra), (nb, tb, rb) = load(a, key), load(b, key)
    except Exception as e:  # an unreadable dir is a difference, not a crash
        return f"unreadable: {type(e).__name__}: {e}"
    if na != nb:
        return f"columns {na} != {nb}"
    if ta != tb:
        return f"types {ta} != {tb}"
    if len(ra) != len(rb):
        return f"{len(ra)} rows != {len(rb)} rows"
    for x, y in zip(ra, rb):
        if x != y:
            return f"first differing sorted row: {x} != {y}"
    return None


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    a, b = argv[0], argv[1]
    keys = sorted(argv[2:] or key_dirs(a) | key_dirs(b))
    bad = 0
    for key in keys:
        why = diff(a, b, key)
        if why:
            bad += 1
            print(f"DIFF {key}: {why}")
    print(f"{len(keys) - bad}/{len(keys)} keys equal")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
