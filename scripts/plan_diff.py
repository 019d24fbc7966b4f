#!/usr/bin/env python3
"""Compare two directories of query plans query by query.

Usage: plan_diff.py BEFORE_DIR AFTER_DIR

Each directory holds the `<qNN>_<suffix>.txt` files that
`graft.Dev plan <outDir> <suffix> <query...>` (or `exec-plan`) writes;
files are matched on `<qNN>`, so the two sides may use different
suffixes. Before comparing, each plan is masked for what changes from
run to run without changing the plan:
  - per-run temp directories (the random digits of a temp dir name),
  - the `_p<pid>` suffix of per-process shared input directories,
  - `at <File>.scala:<line>` call sites (a moved line is not a new plan),
  - RDD ids (`MapPartitionsRDD[123]`), lambda class names and
    `@1a2b3c4d` object hashes, which are per-JVM,
  - expression ids (`name#123`) and `plan_id=` numbers, renumbered in
    order of first appearance: both come from JVM-wide counters, so
    they shift with whatever ran earlier in the same JVM. The
    renumbering is one-to-one within a file, so two plans still differ
    when they use the same id in different places.

Prints one line per query whose masked plan differs (with its first
differing line) and per query found on one side only, then a summary.
Exits 1 if any plan differs or is missing on one side.
"""
import os
import re
import sys

MASKS = [
    (re.compile(r"(/[^\s/\]\[,()]*?_)\d{6,}(?=[/\s\],)]|$)", re.M), r"\1<tmp>"),
    (re.compile(r"_p\d+(?=[/\s\],)]|$)", re.M), "_p<pid>"),
    (re.compile(r"\bat [\w$]+\.scala:\d+"), "at <site>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[<rdd>]"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda<cls>"),
    (re.compile(r"@[0-9a-f]{5,8}\b"), "@<obj>"),
]


IDS = [re.compile(r"(#)(\d+)"), re.compile(r"(plan_id=)(\d+)")]


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    for pattern in IDS:
        seen = {}
        text = pattern.sub(
            lambda m: f"{m.group(1)}<{seen.setdefault(m.group(2), len(seen))}>", text)
    return text


def plans(directory):
    """{qNN: path} for the plan files in `directory`."""
    out = {}
    for name in sorted(os.listdir(directory)):
        if not name.endswith(".txt") or "_" not in name:
            continue
        query = name.split("_", 1)[0]
        if query in out:
            sys.exit(f"{directory}: two plan files for {query}: "
                     f"{os.path.basename(out[query])}, {name}")
        out[query] = os.path.join(directory, name)
    return out


def first_difference(before, after):
    b_lines, a_lines = before.splitlines(), after.splitlines()
    for i, (b, a) in enumerate(zip(b_lines, a_lines)):
        if b != a:
            return f"line {i + 1}: {b.strip()[:100]!r} -> {a.strip()[:100]!r}"
    return f"line count {len(b_lines)} -> {len(a_lines)}"


def main(before_dir, after_dir):
    before, after = plans(before_dir), plans(after_dir)
    missing = [(q, after_dir) for q in sorted(before.keys() - after.keys())] + \
              [(q, before_dir) for q in sorted(after.keys() - before.keys())]
    for query, directory in missing:
        print(f"{query}: MISSING from {directory}")
    differ = 0
    for query in sorted(before.keys() & after.keys()):
        with open(before[query], encoding="utf-8") as b, \
                open(after[query], encoding="utf-8") as a:
            b_text, a_text = mask(b.read()), mask(a.read())
        if b_text != a_text:
            differ += 1
            print(f"{query}: DIFFERS at {first_difference(b_text, a_text)}")
    same = len(before.keys() & after.keys()) - differ
    print(f"== {same} identical, {differ} differ, {len(missing)} missing ==")
    return 1 if differ or missing else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
