#!/usr/bin/env python3
"""Net line delta of the main sources against a parent commit.

usage: python3 scripts/main_delta.py <parent-sha> [root]

Compares every file under `src/main` at <parent-sha> with the working
tree (tracked and untracked files, minus git-ignored ones, so a new
file counts before it is staged) and prints two numbers:

  net       all lines, current minus parent
  code-only the same, counting only code lines: blank lines and
            comment lines (starting with `//`, `/*` or `*`, which
            covers scaladoc bodies and `*/`) are left out

A simplification is measured by the code-only delta: deleting
comments moves the net delta, not the code.
"""
import os
import subprocess
import sys

ROOT_DIR = "src/main"


def is_code(line):
    s = line.strip()
    return bool(s) and not s.startswith(("//", "/*", "*"))


def counts(text):
    lines = text.splitlines()
    return len(lines), sum(1 for l in lines if is_code(l))


def git(repo, *args):
    return subprocess.run(["git", "-C", repo, *args], check=True,
                          capture_output=True, text=True).stdout


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sha = sys.argv[1]
    repo = sys.argv[2] if len(sys.argv) > 2 else "."
    before = [0, 0]
    for path in git(repo, "ls-tree", "-r", "--name-only", sha,
                    "--", ROOT_DIR).split("\n"):
        if path:
            n, c = counts(git(repo, "show", f"{sha}:{path}"))
            before[0] += n
            before[1] += c
    after = [0, 0]
    for path in git(repo, "ls-files", "--cached", "--others",
                    "--exclude-standard", "--", ROOT_DIR).split("\n"):
        full = os.path.join(repo, path)
        if path and os.path.isfile(full):
            with open(full, encoding="utf-8") as f:
                n, c = counts(f.read())
            after[0] += n
            after[1] += c
    print(f"net       {after[0] - before[0]:+d} "
          f"({before[0]} -> {after[0]} lines)")
    print(f"code-only {after[1] - before[1]:+d} "
          f"({before[1]} -> {after[1]} lines)")


if __name__ == "__main__":
    main()
