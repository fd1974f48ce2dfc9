#!/usr/bin/env python3
"""Compare the query outputs of two `graft.Verify` runs.

Usage: compare_verify_outputs.py <parent_out> <change_out>

Every subdirectory is one query's output (its parquet part files).
For each query the two runs must agree on the schema (column names and
types, in order) and on the rows in order (part files read in name
order). Floats compare bit for bit, except that every NaN equals every
NaN. Parquet footer metadata (writer version, key-value metadata) is
not compared. Prints one line per differing or one-sided query and a
summary; exits 1 on any difference or on a query only one run wrote.
"""
import math
import os
import struct
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def query_dirs(root):
    """Query name -> its part files in name order, for every subdir."""
    out = {}
    for name in sorted(os.listdir(root)):
        d = os.path.join(root, name)
        if os.path.isdir(d):
            parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            out[name] = [os.path.join(d, f) for f in parts]
    return out


def read(parts):
    """The parts as one table (None without parts); the footer's
    key-value metadata is dropped: only names and types count."""
    if not parts:
        return None
    return pa.concat_tables(
        [pq.read_table(p).replace_schema_metadata(None) for p in parts])


def canon(v):
    """A value with every float replaced by its bit pattern (NaN: one
    token), recursively through lists, structs and maps."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack(">d", v)
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def compare_query(parent_parts, change_parts):
    """None when identical, else a one-line description."""
    a, b = read(parent_parts), read(change_parts)
    if a is None or b is None:
        return None if a is b else "part files in only one run"
    sa = [(f.name, str(f.type)) for f in a.schema]
    sb = [(f.name, str(f.type)) for f in b.schema]
    if sa != sb:
        return f"schema differs: {sa} vs {sb}"
    if a.num_rows != b.num_rows:
        return f"row count differs: {a.num_rows} vs {b.num_rows}"
    for name in a.column_names:
        ca = a.column(name).to_pylist()
        cb = b.column(name).to_pylist()
        for i, (x, y) in enumerate(zip(ca, cb)):
            if canon(x) != canon(y):
                return f"column {name} differs at row {i}: {x!r} vs {y!r}"
    return None


def compare(parent, change):
    """(problems, n_identical): one line per differing/one-sided query."""
    qa, qb = query_dirs(parent), query_dirs(change)
    problems = []
    same = 0
    for q in sorted(set(qa) | set(qb)):
        if q not in qb:
            problems.append(f"{q}: only in {parent}")
        elif q not in qa:
            problems.append(f"{q}: only in {change}")
        else:
            diff = compare_query(qa[q], qb[q])
            if diff is None:
                same += 1
            else:
                problems.append(f"{q}: {diff}")
    return problems, same


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    problems, same = compare(argv[1], argv[2])
    for p in problems:
        print(p)
    print(f"{same} identical, {len(problems)} differing or one-sided")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
