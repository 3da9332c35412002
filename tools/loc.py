#!/usr/bin/env python3
"""Line counts of the engine sources. Usage:

    python3 tools/loc.py [--files] [root]

Prints the total line count of the Scala files under `<root>/src/main`
(root defaults to the current directory) and the count of code lines:
lines that are not blank and do not start, after indentation, with
`//`, `/*` or `*`. `--files` adds one line per file, largest first.
"""
import os
import sys


def count(path):
    total = code = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            total += 1
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                code += 1
    return total, code


def main(argv):
    files = "--files" in argv
    args = [a for a in argv if a != "--files"]
    src = os.path.join(args[0] if args else ".", "src", "main")
    rows = []
    for d, _, names in os.walk(src):
        for n in names:
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                rows.append((os.path.relpath(p, src),) + count(p))
    if files:
        for rel, total, code in sorted(rows, key=lambda r: (-r[1], r[0])):
            print(f"{total:7d} {code:7d}  {rel}")
    print(f"src/main: {sum(r[1] for r in rows)} lines, "
          f"{sum(r[2] for r in rows)} non-blank non-comment "
          f"({len(rows)} files)")


if __name__ == "__main__":
    main(sys.argv[1:])
