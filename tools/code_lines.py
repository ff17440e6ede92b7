#!/usr/bin/env python3
"""Count code lines in Scala (or other C-style) source files.

A code line is a line that is neither blank nor comment: `//` line
comments, `/* ... */` blocks and scaladoc (`/** ... */`) are excluded.
A line that carries code before or after a comment still counts.

Usage: tools/code_lines.py <file-or-dir>...   (directories are walked
for *.scala files). Prints one count per file, then the total.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        s = raw.strip()
        if in_block:
            end = s.find("*/")
            if end < 0:
                continue
            in_block = False
            s = s[end + 2:].strip()
        while s.startswith("/*"):
            end = s.find("*/", 2)
            if end < 0:
                in_block = True
                s = ""
                break
            s = s[end + 2:].strip()
        if s and not s.startswith("//"):
            n += 1
    return n


def files(args):
    for a in args:
        if os.path.isdir(a):
            for root, _, names in sorted(os.walk(a)):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield a


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in files(argv):
        with open(path, encoding="utf-8") as f:
            c = code_lines(f.read())
        total += c
        print(f"{c:8d}  {path}")
    print(f"{total:8d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
