#!/usr/bin/env python3
"""Count non-blank, non-comment lines of source files.

Usage: scripts/ncnb.py FILE[:FROM-TO] ... | DIR ...

Each physical line counts once when any code is left on it after comments
are removed; lines are never joined or split. `//` line comments and
`/* ... */` block comments (nesting, as Scala allows) are comments, and
comment markers inside string and character literals are not. Files
ending in `.py` or `.sh` use `#` line comments instead. An optional
`:FROM-TO` suffix (1-based, inclusive) counts only that line range.
A directory argument counts every `*.scala`, `*.py` and `*.sh` file under
it, recursively, and prints one line for the directory.
Prints one line per argument and, for several arguments, a total.
"""
import os
import sys


def code_lines(text, hash_comments=False):
    """Per physical line, True when it holds code outside comments."""
    out = []
    depth = 0          # block-comment nesting
    in_str = None      # None, '"' or '"""'
    for line in text.split("\n"):
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                has_code = True
                if in_str == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(in_str, i):
                    i += len(in_str)
                    in_str = None
                else:
                    i += 1
                continue
            c = line[i]
            if hash_comments:
                if c == "#":
                    break
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            if c.isspace():
                i += 1
                continue
            has_code = True
            if line.startswith('"""', i):
                in_str = '"""'
                i += 3
            elif c == '"' or (hash_comments and c == "'"):
                in_str = c
                i += 1
            elif c == "'" and not hash_comments:
                # a char literal: 'x' or an escape like '\n' / 'A'
                end = line.find("'", i + 2 if line.startswith("\\", i + 1) else i + 1)
                i = end + 1 if 0 < end - i <= 7 else i + 1
            else:
                i += 1
        if in_str == '"' or (in_str == "'"):
            in_str = None  # single-line literals end with the line
        out.append(has_code)
    return out


def count(arg):
    if os.path.isdir(arg):
        return sum(count(os.path.join(d, f))
                   for d, _, files in os.walk(arg) for f in files
                   if f.endswith((".scala", ".py", ".sh")))
    path, _, rng = arg.partition(":")
    with open(path, encoding="utf-8") as f:
        flags = code_lines(f.read(), path.endswith((".py", ".sh")))
    lo, hi = 1, len(flags)
    if rng:
        a, _, b = rng.partition("-")
        lo, hi = int(a), int(b or a)
    return sum(flags[lo - 1:hi])


def main(args):
    if not args:
        sys.exit(__doc__.strip())
    total = 0
    for a in args:
        n = count(a)
        total += n
        print(f"{n:7d}  {a}")
    if len(args) > 1:
        print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
