#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: dump_diff.py BEFORE AFTER

A dump holds one parquet directory per registry query (written by
`graft.Verify <sfDir> <outDir>`). The two dumps must hold the same query
set, and each query the same columns and the same rows in the same
order, after verify_local.py's cell normalisation (columns sorted by
name, NaN as null, temporals as ISO strings). Unlike verify_local.py it
needs no oracle, so it also covers the queries without one. Prints one
line per differing or missing query, then a summary.

It also compares the two dumps' oracle_sql.json: it prints each oracle
key found in only one dump, and each query whose oracle text changed
once runs of whitespace are collapsed (a changed text is listed, not
failed: the results above show whether the query still agrees).

Exits 1 if any query result differs or is missing, or if the oracle key
sets differ.
"""
import json
import os
import sys

import duckdb

from verify_local import fetch


def queries(dump):
    return {n for n in os.listdir(dump) if os.path.isdir(os.path.join(dump, n))}


def result(dump, name):
    return fetch(duckdb.connect(),
                 f"SELECT * FROM read_parquet('{dump}/{name}/*.parquet')")


def diff(before, after, name):
    """None when the query's two results are identical, else why not."""
    try:
        (b_cols, b_rows), (a_cols, a_rows) = result(before, name), result(after, name)
    except Exception as e:
        return f"UNREADABLE {str(e)[:200]}"
    if b_cols != a_cols:
        return f"COLUMNS before={b_cols} after={a_cols}"
    if b_rows == a_rows:
        return None
    first = next((i for i, (b, a) in enumerate(zip(b_rows, a_rows)) if b != a),
                 min(len(b_rows), len(a_rows)))
    return f"ROWS before={len(b_rows)} after={len(a_rows)}, first difference at row {first}"


def oracles(dump):
    with open(os.path.join(dump, "oracle_sql.json"), encoding="utf-8") as f:
        return json.load(f)


def diff_oracles(before, after):
    """Prints the oracle key-set and text differences; returns the number
    of keys found in only one dump."""
    try:
        b, a = oracles(before), oracles(after)
    except (OSError, ValueError) as e:
        print(f"oracle_sql.json: UNREADABLE {e}")
        return 1
    only = [(n, after) for n in sorted(b.keys() - a.keys())] + \
           [(n, before) for n in sorted(a.keys() - b.keys())]
    for name, dump in only:
        print(f"oracle {name}: MISSING from {dump}")
    squash = lambda sql: " ".join(sql.split())
    changed = sorted(n for n in b.keys() & a.keys() if squash(b[n]) != squash(a[n]))
    for name in changed:
        print(f"oracle {name}: TEXT CHANGED")
    print(f"== oracles: {len(b.keys() & a.keys())} in both, {len(only)} in one only, "
          f"{len(changed)} changed ==")
    return len(only)


def main():
    before, after = sys.argv[1], sys.argv[2]
    b, a = queries(before), queries(after)
    n_bad = 0
    for name in sorted(b | a):
        if name not in a:
            why = f"MISSING from {after}"
        elif name not in b:
            why = f"MISSING from {before}"
        else:
            why = diff(before, after, name)
        if why:
            print(f"{name}: {why}")
            n_bad += 1
    print(f"== {len(b | a) - n_bad} identical, {n_bad} differ ==")
    n_bad += diff_oracles(before, after)
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
