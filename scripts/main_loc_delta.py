#!/usr/bin/env python3
"""Net line delta of the main code (src/main) from a git revision to the
working tree, split into code, comment and blank lines.

A line is classified by its own text: blank when empty after stripping,
comment when it starts with `//`, `/*` or `*` (Scala line comments,
block comments and the `*` lines of a scaladoc), code otherwise.
Untracked files under src/main count as wholly added.

Usage: python3 scripts/main_loc_delta.py <base-rev>
"""
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN = "src/main"
KINDS = ("code", "comment", "blank")


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout


def kind(line):
    s = line.strip()
    if not s:
        return "blank"
    if s.startswith(("//", "/*", "*")):
        return "comment"
    return "code"


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    base = sys.argv[1]
    added = dict.fromkeys(KINDS, 0)
    removed = dict.fromkeys(KINDS, 0)
    diff = git("diff", "--no-color", "--no-renames", "-U0", base, "--", MAIN)
    for line in diff.splitlines():
        if line.startswith(("+++", "---")):
            continue
        if line.startswith("+"):
            added[kind(line[1:])] += 1
        elif line.startswith("-"):
            removed[kind(line[1:])] += 1
    for path in git("ls-files", "--others", "--exclude-standard", "--", MAIN).split():
        for line in (ROOT / path).read_text(errors="replace").splitlines():
            added[kind(line)] += 1
    print(f"{'':8} {'added':>7} {'removed':>8} {'net':>7}")
    for k in KINDS + ("total",):
        a = sum(added.values()) if k == "total" else added[k]
        r = sum(removed.values()) if k == "total" else removed[k]
        print(f"{k:8} {a:>7} {r:>8} {a - r:>+7}")


if __name__ == "__main__":
    main()
