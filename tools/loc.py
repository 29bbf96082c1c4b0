#!/usr/bin/env python3
"""Count code lines: non-blank lines that hold something besides comments.

Usage:

    python3 tools/loc.py [PATH ...]             # default: src/main/scala
    python3 tools/loc.py --base REV [PATH ...]  # REV vs the working tree

Each PATH is a file or a directory (searched for *.scala, *.java and
*.py files). Prints one `<lines>  <file>` row per file and a `total`
row. With `--base REV` each row is `<base> <change> <delta>  <file>`:
the base side is read with `git show REV:<file>` (no checkout), the
change side from the working tree, and a file present on one side only
counts 0 on the other. A line counts when it holds any character outside a comment:
`//` line comments and `/* */` and `/** */` block comments (nested, as
in Scala) are excluded, and comment markers inside string and character
literals are not comments. For .py files, `#` starts a comment (a
docstring is a string, so it counts).
"""
import os
import subprocess
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


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def base_files(rev, paths):
    """{file: source} of every counted file under `paths` at `rev`."""
    names = git("ls-tree", "-r", "--name-only", rev, "--", *paths).split("\n")
    return {f: git("show", f"{rev}:./{f}") for f in names if f.endswith(EXTS)}


def count(f, src):
    return code_lines(src, hash_comments=f.endswith(".py"))


def main(argv):
    base = None
    if argv[:1] == ["--base"]:
        if len(argv) < 2:
            sys.exit("loc: --base needs a revision")
        base, argv = argv[1], argv[2:]
    paths = argv or ["src/main/scala"]
    olds = base_files(base, paths) if base else {}
    missing = [p for p in paths if not os.path.exists(p)
               and not any(f == p or f.startswith(p.rstrip("/") + "/") for f in olds)]
    if missing:
        sys.exit(f"loc: no such path: {', '.join(missing)}")
    news = {}
    for f in files(p for p in paths if os.path.exists(p)):
        with open(f, encoding="utf-8") as fh:
            news[os.path.normpath(f)] = count(f, fh.read())
    if base is None:
        for f, k in news.items():
            print(f"{k:7d}  {f}")
        print(f"{sum(news.values()):7d}  total")
        return
    olds = {os.path.normpath(f): count(f, src) for f, src in olds.items()}
    for f in sorted(set(olds) | set(news)):
        o, n = olds.get(f, 0), news.get(f, 0)
        print(f"{o:7d} {n:7d} {n - o:+7d}  {f}")
    o, n = sum(olds.values()), sum(news.values())
    print(f"{o:7d} {n:7d} {n - o:+7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
