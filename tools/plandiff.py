#!/usr/bin/env python3
"""Dev-only diff of formatted query plans between two tags.

Not part of the Scala library. Usage:
    python3 tools/plandiff.py <dir> <tagA> <tagB> [--show]

Reads the `<dir>/<query>_<tag>.txt` files that
`runMain graft.Dev plan <sfDir> <dir> <tag> <name>...` writes, normalises
what differs between two JVM runs of the same plan, and compares the
queries present under both tags:
  - expression ids (`doc_id#17509L`, `subquery#12`),
  - plan ids (`[plan_id=77372]`) and RDD ids (`MapPartitionsRDD[3888]`),
  - object hashes (`@1a2b3c4d`), JVM lambda class names and lambda
    variable names (`lambda x_162`),
  - call-site lines (`at Dedup.scala:653`),
  - temporary paths (`file:/tmp/graft_zread613…`, parquet part names).
Prints the name of every query whose normalised plans differ (and of
every query present under only one tag), `--show` adds a unified diff
per differing query, and exits 1 if any query differs, else 0.

Plans that differ only in the order of items inside lines are listed
as "order only" and do not count as a difference: Catalyst orders some
rewrites (e.g. the Expand of several distinct aggregates) by expression
hash, so such plans change between JVMs whenever ids shift.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"\$Lambda[$/\w]*"), "$Lambda"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"/tmp/[^\s,\]]*"), "/tmp/T"),
]
TOKEN = re.compile(r"[^\s,\[\]()]+")


def normalise(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text.splitlines()


def plans(directory, tag):
    suffix = "_%s.txt" % tag
    return {f[: -len(suffix)]: os.path.join(directory, f)
            for f in os.listdir(directory) if f.endswith(suffix)}


def main(argv):
    args = [a for a in argv if a != "--show"]
    if len(args) != 3:
        sys.exit(__doc__)
    directory, tag_a, tag_b = args
    a, b = plans(directory, tag_a), plans(directory, tag_b)
    differ = sorted(set(a) ^ set(b))
    for name in differ:
        print("%s: only under %s" % (name, tag_a if name in a else tag_b))
    same = order_only = 0
    for name in sorted(set(a) & set(b)):
        pa, pb = (normalise(open(p).read()) for p in (a[name], b[name]))
        if pa == pb:
            same += 1
            continue
        if [sorted(TOKEN.findall(l)) for l in pa] == [sorted(TOKEN.findall(l)) for l in pb]:
            order_only += 1
            print("%s: order only" % name)
            continue
        differ.append(name)
        print("%s: plans differ" % name)
        if "--show" in argv:
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                pa, pb, tag_a, tag_b, lineterm="", n=1))
    print("%d identical, %d order only, %d differ" % (same, order_only, len(differ)))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
