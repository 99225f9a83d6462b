#!/usr/bin/env python3
"""Code-line counts for the main Scala sources.

Usage: loc.py [--base REV] [--root DIR] [FILE...]

Prints, per file under `src/main` (or per FILE given), the number of code
lines and of physical lines, then the totals. A code line is a line with
at least one character outside a comment: blank lines, `//` lines and the
lines of `/* */` blocks (scaladoc included) are left out, because removing
comments is not a reduction of the program.

With `--base REV` it prints the same counts for the files as they are at
the git revision REV and the delta (working tree minus REV) per file and in
total. Files present on one side only count as zero on the other.
"""
import argparse
import os
import subprocess
import sys

SUFFIXES = (".scala", ".java")


def code_lines(text):
    """Number of lines of `text` with a character outside a comment."""
    count = 0
    in_block = 0  # Scala block comments nest
    in_str = None  # None, '"' or '"""'
    for line in text.split("\n"):
        has_code = in_str is not None
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if in_block:
                if line.startswith("/*", i):
                    in_block += 1
                    i += 2
                elif line.startswith("*/", i):
                    in_block -= 1
                    i += 2
                else:
                    i += 1
            elif in_str == '"""':
                if line.startswith('"""', i):
                    in_str = None
                    i += 3
                else:
                    i += 1
            elif in_str == '"':
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                in_block = 1
                i += 2
            elif line.startswith('"""', i):
                has_code, in_str = True, '"""'
                i += 3
            elif c == '"':
                has_code, in_str = True, '"'
                i += 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                has_code = True  # char literal, e.g. '"'
                i += 3
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if in_str == '"':
            in_str = None  # single-line strings end with their line
        if has_code:
            count += 1
    return count


def physical_lines(text):
    return text.count("\n") + (0 if text.endswith("\n") or not text else 1)


def git(root, *args):
    return subprocess.run(["git", "-C", root, *args], check=True,
                          capture_output=True, text=True).stdout


def tracked(root, rev):
    names = git(root, "ls-tree", "-r", "--name-only", rev, "--", "src/main")
    return [p for p in names.splitlines() if p.endswith(SUFFIXES)]


def working(root):
    out = []
    for d, _, files in os.walk(os.path.join(root, "src", "main")):
        for f in files:
            if f.endswith(SUFFIXES):
                out.append(os.path.relpath(os.path.join(d, f), root))
    return out


def counts(texts):
    return {p: (code_lines(t), physical_lines(t)) for p, t in texts.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="git revision to diff against")
    ap.add_argument("--root", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("files", nargs="*",
                    help="restrict to these paths (relative to the root)")
    a = ap.parse_args()
    paths = sorted(a.files or working(a.root))
    now = {}
    for p in paths:
        full = os.path.join(a.root, p)
        if os.path.exists(full):
            with open(full, encoding="utf-8") as f:
                now[p] = f.read()
    now = counts(now)
    if not a.base:
        for p in paths:
            if p in now:
                print(f"{now[p][0]:7d} {now[p][1]:7d}  {p}")
        code = sum(c for c, _ in now.values())
        phys = sum(l for _, l in now.values())
        print(f"{code:7d} {phys:7d}  total (code, physical)")
        return 0
    base_paths = a.files or tracked(a.root, a.base)
    base = {}
    for p in base_paths:
        try:
            base[p] = git(a.root, "show", f"{a.base}:{p}")
        except subprocess.CalledProcessError:
            pass
    base = counts(base)
    tot = [0, 0, 0, 0]
    print(f"{'base':>7} {'now':>7} {'delta':>7} {'phys':>7}  file")
    for p in sorted(set(now) | set(base)):
        b, n = base.get(p, (0, 0)), now.get(p, (0, 0))
        tot = [tot[0] + b[0], tot[1] + n[0], tot[2] + b[1], tot[3] + n[1]]
        if b != n:
            print(f"{b[0]:7d} {n[0]:7d} {n[0] - b[0]:+7d} "
                  f"{n[1] - b[1]:+7d}  {p}")
    print(f"{tot[0]:7d} {tot[1]:7d} {tot[1] - tot[0]:+7d} "
          f"{tot[3] - tot[2]:+7d}  total (code; physical "
          f"{tot[2]} -> {tot[3]})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
