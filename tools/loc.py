#!/usr/bin/env python3
"""Line counts of the main sources: total lines and code lines per file.

Usage: loc.py [repoDir]   (default: the current directory)

Walks <repoDir>/src/main and prints, for every file, its total line
count and its code line count, then the sums. A code line is a line
that is neither blank nor a comment line; a comment line is one whose
first non-blank characters are `//`, `/*` or `*` (scaladoc and block
comment bodies included). Lines that mix code and a trailing comment
count as code.
"""
import os
import sys


def counts(path):
    total = code = 0
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            total += 1
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                code += 1
    return total, code


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    base = os.path.join(repo, "src", "main")
    rows = []
    for d, _, files in os.walk(base):
        for name in files:
            p = os.path.join(d, name)
            rows.append((os.path.relpath(p, repo),) + counts(p))
    rows.sort()
    width = max([len(r[0]) for r in rows] + [5])
    print(f"{'file':<{width}}  {'total':>7}  {'code':>7}")
    for path, total, code in rows:
        print(f"{path:<{width}}  {total:>7}  {code:>7}")
    print(f"{'sum':<{width}}  {sum(r[1] for r in rows):>7}  "
          f"{sum(r[2] for r in rows):>7}")


if __name__ == "__main__":
    main()
