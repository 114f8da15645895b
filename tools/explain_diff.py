#!/usr/bin/env python3
"""Plan diff between two `graft.Explain` dumps (stdout of
`sbt "runMain graft.Explain <sfDir> [name...]"`), query by query.

Ids that change from run to run without any change to the plan are
normalised before comparing:
  - expression ids        `doc_id#123L`          -> `doc_id#_L`
  - exchange plan ids     `[plan_id=45]`         -> `[plan_id=_]`
  - RDD ids               `MapPartitionsRDD[67]` -> `MapPartitionsRDD[_]`
  - Scala lambda classes  `Foo$$Lambda/0x7f..@1a2b` -> `Foo$$Lambda`
  - RDD call-site lines   `at Graph.scala:123`   -> `at Graph.scala:_`
    (the file stays: a cut that moves to another file still shows)

Usage: explain_diff.py <before.txt> <after.txt> [name,name,...]
Prints a unified diff for each query whose normalised plan differs, and
a one-line summary. Exit 0 = no differences; 1 = any plan differs or a
query is missing from one dump.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^=+ (\S+) =+$")
NORMALISE = [
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"\$\$Lambda[^\s,\])]*"), "$$Lambda"),
    (re.compile(r"(\.scala):\d+"), r"\1:_"),
]


def normalise(line):
    for pat, rep in NORMALISE:
        line = pat.sub(rep, line)
    return line


def sections(path):
    """{query name: [normalised plan lines]} in dump order."""
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line.strip())
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None:
                out[name].append(normalise(line))
    # trailing blank lines separate sections; they are not plan content
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(argv):
    if len(argv) not in (3, 4):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    before, after = sections(argv[1]), sections(argv[2])
    only = set(argv[3].split(",")) if len(argv) == 4 else None
    names = [n for n in dict.fromkeys(list(before) + list(after))
             if only is None or n in only]
    differ = []
    for n in names:
        if n not in before or n not in after:
            side = argv[1] if n not in before else argv[2]
            print(f"MISS {n}: absent in {side}")
            differ.append(n)
            continue
        diff = list(difflib.unified_diff(before[n], after[n],
                                         f"{n} (before)", f"{n} (after)",
                                         lineterm=""))
        if diff:
            differ.append(n)
            print("\n".join(diff))
            print()
    same = len(names) - len(differ)
    print(f"{len(names)} queries: {same} identical, {len(differ)} differ"
          + (f" ({', '.join(differ)})" if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
