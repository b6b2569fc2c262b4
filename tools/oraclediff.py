#!/usr/bin/env python3
"""Dev-only diff of the DuckDB oracle SQL between two dumps.

Not part of the Scala library. Usage:
    python3 tools/oraclediff.py <a/oracle_sql.json> <b/oracle_sql.json> [--show]

Reads two `oracle_sql.json` files as `runMain graft.Verify` writes them
(one JSON object, query name -> DuckDB SQL) and normalises layout only,
and only outside single-quoted SQL literals:
  - each whitespace run collapses to one space (leading and trailing
    whitespace is dropped),
  - whitespace next to `(`, `)` and `,` is dropped.
Nothing else is normalised, so a renamed CTE or alias counts as a change.
Prints the name of every oracle present on one side only and of every
oracle whose normalised SQL differs, `--show` adds a unified diff per
differing oracle, and exits 1 if any name is listed, else 0.
"""
import difflib
import json
import re
import sys

LITERAL = re.compile(r"('(?:[^']|'')*')")
SPACE = re.compile(r"\s+")
AROUND = re.compile(r" ?([(),]) ?")
CLAUSE = re.compile(r"(?<!LEFT) (?=SELECT |FROM |WHERE |GROUP BY |ORDER BY |(?:LEFT )?JOIN |"
                    r"UNION ALL |\w+ AS \()")


def normalise(sql):
    parts = LITERAL.split(sql)
    for i in range(0, len(parts), 2):  # even parts lie outside literals
        parts[i] = AROUND.sub(r"\1", SPACE.sub(" ", parts[i]))
    return "".join(parts).strip()


def main(argv):
    args = [a for a in argv if a != "--show"]
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = (json.load(open(p)) for p in args)
    differ = sorted(set(a) ^ set(b))
    for name in differ:
        print("%s: only in %s" % (name, args[0] if name in a else args[1]))
    same = 0
    for name in sorted(set(a) & set(b)):
        na, nb = normalise(a[name]), normalise(b[name])
        if na == nb:
            same += 1
            continue
        differ.append(name)
        print("%s: oracle SQL differs" % name)
        if "--show" in argv:
            # one line per clause keeps the diff readable
            la, lb = (CLAUSE.sub("\n", s).splitlines() for s in (na, nb))
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                la, lb, args[0], args[1], lineterm="", n=1))
    print("%d identical, %d differ" % (same, len(differ)))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
