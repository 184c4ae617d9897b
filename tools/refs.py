#!/usr/bin/env python3
"""List each `def` under src/main/scala whose name occurs as a word exactly
once across src/ and perfbench/src/ -- its own definition, so nothing calls
it, names it in a doc, or tests it. `override` defs and `main` are skipped
(the framework or the JVM calls them). Exits 1 when it lists any def, so
"no unreferenced defs" is a check. Run from the repo root:

    python3 tools/refs.py
"""
import collections
import os
import re
import sys

DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def scala_files(root):
    for d, _, names in sorted(os.walk(root)):
        yield from (os.path.join(d, n) for n in sorted(names) if n.endswith(".scala"))


counts = collections.Counter()
for root in ("src", "perfbench/src"):
    for path in scala_files(root):
        with open(path, encoding="utf-8") as f:
            counts.update(WORD.findall(f.read()))

listed = 0
for path in scala_files("src/main/scala"):
    with open(path, encoding="utf-8") as f:
        for n, line in enumerate(f, 1):
            for m in DEF.finditer(line):
                name = m.group(1)
                if name != "main" and "override" not in line[:m.start()] and counts[name] == 1:
                    print(f"{path}:{n}: {name}")
                    listed += 1
sys.exit(1 if listed else 0)
