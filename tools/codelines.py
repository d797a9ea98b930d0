#!/usr/bin/env python3
"""Count code lines: non-blank lines that do not start with //, *, /** or */.

Usage: python3 tools/codelines.py PATH [PATH ...]
Each PATH is a file or a directory (searched for *.scala, *.java, *.py).
Prints one line per file, then the total.
"""
import pathlib
import sys

COMMENT = ("//", "*", "/**", "*/")
SUFFIXES = {".scala", ".java", ".py"}


def count(path):
    lines = (l.strip() for l in path.read_text(encoding="utf-8").splitlines())
    return sum(1 for l in lines if l and not l.startswith(COMMENT))


if len(sys.argv) < 2:
    print("usage: python3 tools/codelines.py PATH [PATH ...]", file=sys.stderr)
    sys.exit(2)
files = []
for arg in sys.argv[1:]:
    p = pathlib.Path(arg)
    files += sorted(f for f in p.rglob("*") if f.suffix in SUFFIXES) if p.is_dir() else [p]
total = 0
for f in files:
    n = count(f)
    total += n
    print(f"{n:8d} {f}")
print(f"{total:8d} total")
