#!/usr/bin/env python3
"""Code lines and public defs per main Scala file.

    python3 tools/code_lines.py [--rev REV] [PATH ...]

Run from the root of a checkout. PATHs default to every .scala file under
src/main. A code line is a line that is neither blank nor comment: block
comments (`/* ... */`, scaladoc included) and `//` lines are stripped
first. A public def is a `def` with no `private`/`protected` modifier on
its line; defs nested inside a def body count too, so compare the number
between revisions of one file rather than read it as an API size. With
--rev REV each file is also counted as `git show REV:path` gives it, and
the difference is printed.
"""
import argparse
import os
import re
import subprocess
import sys

DEF = re.compile(r"^\s*(?:(?:override|final|implicit|inline|@\w+)\s+)*def\s")
HIDDEN = re.compile(r"\b(?:private|protected)\b")


def code_lines(text):
    """The source's lines with comments removed, blank lines dropped."""
    out, in_block, cur = [], False, []
    i, n = 0, len(text)
    in_str = False
    while i < n:
        c = text[i]
        if in_block:
            if text.startswith("*/", i):
                in_block, i = False, i + 2
                continue
            if c == "\n":
                out.append("".join(cur))
                cur = []
            i += 1
            continue
        if in_str:
            cur.append(c)
            if c == "\\" and i + 1 < n:
                cur.append(text[i + 1])
                i += 2
                continue
            if c == '"' or c == "\n":
                in_str = False
            if c == "\n":
                out.append("".join(cur[:-1]))
                cur = []
            i += 1
            continue
        if text.startswith("/*", i):
            in_block, i = True, i + 2
            continue
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
            continue
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            chunk = text[i:j].split("\n")
            cur.append(chunk[0])
            for part in chunk[1:]:
                out.append("".join(cur))
                cur = [part]
            i = j
            continue
        char_lit = re.match(r"'(?:\\.|[^\\'\n])'", text[i:i + 4])
        if char_lit:
            cur.append(char_lit.group(0))
            i += len(char_lit.group(0))
            continue
        if c == '"':
            in_str = True
            cur.append(c)
            i += 1
            continue
        if c == "\n":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return [l for l in out if l.strip()]


def count(text):
    lines = code_lines(text)
    defs = sum(1 for l in lines if DEF.match(l) and not HIDDEN.search(l.split("def", 1)[0]))
    return len(lines), defs


def at_rev(rev, path):
    r = subprocess.run(["git", "show", f"{rev}:{path}"], capture_output=True, text=True)
    return r.stdout if r.returncode == 0 else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev")
    ap.add_argument("paths", nargs="*")
    a = ap.parse_args()
    paths = a.paths or sorted(
        os.path.join(d, f) for d, _, fs in os.walk("src/main") for f in fs if f.endswith(".scala"))
    if a.rev:
        print(f"{'file':60s} {'code':>6s} {'defs':>5s}   {a.rev + ' code':>12s} {'defs':>5s}   {'Δcode':>6s} {'Δdefs':>6s}")
    else:
        print(f"{'file':60s} {'code':>6s} {'defs':>5s}")
    total = [0, 0, 0, 0]
    for p in paths:
        now = count(open(p, encoding="utf-8").read()) if os.path.exists(p) else (0, 0)
        total[0] += now[0]
        total[1] += now[1]
        if not a.rev:
            print(f"{p:60s} {now[0]:6d} {now[1]:5d}")
            continue
        old_text = at_rev(a.rev, p)
        old = count(old_text) if old_text is not None else (0, 0)
        total[2] += old[0]
        total[3] += old[1]
        print(f"{p:60s} {now[0]:6d} {now[1]:5d}   {old[0]:12d} {old[1]:5d}   "
              f"{now[0] - old[0]:+6d} {now[1] - old[1]:+6d}")
    if len(paths) > 1:
        if a.rev:
            print(f"{'total':60s} {total[0]:6d} {total[1]:5d}   {total[2]:12d} {total[3]:5d}   "
                  f"{total[0] - total[2]:+6d} {total[1] - total[3]:+6d}")
        else:
            print(f"{'total':60s} {total[0]:6d} {total[1]:5d}")


if __name__ == "__main__":
    sys.exit(main())
