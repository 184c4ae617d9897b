#!/usr/bin/env python3
"""Count Scala lines that are not blank and do not start (stripped) with
`//`, `/*` or `*` (scaladoc bodies and closers). Directories are walked.

    python3 tools/loc.py src/main/scala/graft/lake/Lake.scala src/main/scala/graft/lake
"""
import os
import sys


def count(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for l in map(str.strip, f) if l and not l.startswith(("//", "/*", "*")))


def files(arg):
    if os.path.isdir(arg):
        for d, _, names in sorted(os.walk(arg)):
            yield from (os.path.join(d, n) for n in sorted(names) if n.endswith(".scala"))
    else:
        yield arg


total = 0
for path in (p for a in sys.argv[1:] for p in files(a)):
    n = count(path)
    total += n
    print(f"{n:7d}  {path}")
print(f"{total:7d}  total")
