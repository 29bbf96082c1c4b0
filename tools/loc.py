#!/usr/bin/env python3
"""Count code lines: non-blank lines that hold something besides comments.

Usage:

    python3 tools/loc.py [PATH ...]          # default: src/main/scala

Each PATH is a file or a directory (searched for *.scala, *.java and
*.py files). Prints one `<lines>  <file>` row per file and a `total`
row. A line counts when it holds any character outside a comment:
`//` line comments and `/* */` and `/** */` block comments (nested, as
in Scala) are excluded, and comment markers inside string and character
literals are not comments. For .py files, `#` starts a comment (a
docstring is a string, so it counts).
"""
import os
import sys

EXTS = (".scala", ".java", ".py")


def code_lines(src, hash_comments=False):
    """Number of lines of `src` with at least one non-space character
    outside comments."""
    count = 0
    depth = 0  # block-comment nesting
    string = None  # the open string delimiter, if any
    i, n = 0, len(src)
    has_code = False
    while i < n:
        c = src[i]
        if c == "\n":
            count += has_code
            has_code = False
            if string in ('"', "'"):  # a one-line string cannot span lines
                string = None
            i += 1
            continue
        if depth:
            if src.startswith("*/", i):
                depth -= 1
                i += 2
            elif src.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
            continue
        if string:
            triple = len(string) == 3
            if triple and src.startswith(string, i):
                i += 3
                while i < n and src[i] == string[0]:  # a closing run may be longer
                    i += 1
                string = None
            elif not triple and c == "\\":
                i += 2
            elif not triple and c == string:
                string = None
                i += 1
            else:
                i += 1
            if not c.isspace():
                has_code = True
            continue
        if hash_comments and c == "#":
            while i < n and src[i] != "\n":
                i += 1
            continue
        if not hash_comments and src.startswith("//", i):
            while i < n and src[i] != "\n":
                i += 1
            continue
        if not hash_comments and src.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if src.startswith('"""', i) or (hash_comments and src.startswith("'''", i)):
            string = src[i:i + 3]
            i += 3
            has_code = True
            continue
        if c == '"' or (hash_comments and c == "'"):
            string = c
            i += 1
            has_code = True
            continue
        if c == "'" and not hash_comments:
            # a character literal ('x', '\n', '\'') — not a symbol or a
            # type-parameter tick
            end = i + 3 if src.startswith("\\", i + 1) else i + 2
            if end < n and src[end] == "'":
                i = end + 1
                has_code = True
                continue
        if not c.isspace():
            has_code = True
        i += 1
    return count + has_code


def files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, dirs, names in os.walk(p):
            dirs.sort()
            for name in sorted(names):
                if name.endswith(EXTS):
                    yield os.path.join(root, name)


def main(argv):
    paths = argv or ["src/main/scala"]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        sys.exit(f"loc: no such path: {', '.join(missing)}")
    total = 0
    for f in files(paths):
        with open(f, encoding="utf-8") as fh:
            k = code_lines(fh.read(), hash_comments=f.endswith(".py"))
        total += k
        print(f"{k:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
