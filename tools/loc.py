#!/usr/bin/env python3
"""Count the code, comment and blank lines of src/main.

    python3 tools/loc.py                 # the working tree
    python3 tools/loc.py HEAD~1          # a git rev
    python3 tools/loc.py 3829ed1 .       # two trees ("." = the working tree),
                                         # then the change between them

A line is blank if it holds only whitespace, comment if it lies in a
`/* ... */` block or starts with `//`, and code otherwise (a code line with
a trailing comment counts as code). Run from anywhere inside the repo.
Stdlib only.
"""
import os
import subprocess
import sys

ROOT = "src/main"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def sources(rev):
    """(path, text) of every file under src/main at `rev` ("." = working tree)."""
    if rev == ".":
        for d, _, files in os.walk(ROOT):
            for f in sorted(files):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    yield p, fh.read()
    else:
        for p in git("ls-tree", "-r", "--name-only", rev, "--", ROOT).splitlines():
            yield p, git("show", f"{rev}:{p}")


def classify(text):
    """[code, comment, blank] line counts of one source file."""
    counts = [0, 0, 0]
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            counts[1] += 1
            in_block = "*/" not in s
        elif not s:
            counts[2] += 1
        elif s.startswith("//"):
            counts[1] += 1
        elif s.startswith("/*"):
            counts[1] += 1
            in_block = "*/" not in s[2:]
        else:
            counts[0] += 1
    return counts


def count(rev):
    total, files = [0, 0, 0], 0
    for _, text in sources(rev):
        files += 1
        total = [a + b for a, b in zip(total, classify(text))]
    return total, files


def show(label, c, files):
    print(f"{label}: {sum(c):,} lines = code {c[0]:,} + comment {c[1]:,} "
          f"+ blank {c[2]:,} ({files} files)")


def main(revs):
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    results = [("working tree" if rev == "." else rev, *count(rev))
               for rev in revs or ["."]]
    for label, c, files in results:
        show(f"{ROOT} @ {label}", c, files)
    if len(results) == 2:
        (_, a, _), (_, b, _) = results
        d = [y - x for x, y in zip(a, b)]
        print(f"change: {sum(d):+,} lines = code {d[0]:+,}, comment {d[1]:+,}, "
              f"blank {d[2]:+,}")


if __name__ == "__main__":
    main(sys.argv[1:])
