#!/usr/bin/env python3
"""Compare two plan trees written by `graft.Lab explain`.

    python3 tools/plandiff.py plans/<tagA> plans/<tagB> [--diff]

Each `<query>.txt` of either directory is compared with its namesake in the
other after masking what differs between two runs of the same plan:
expression ids (`map_key#123L`), exchange ids (`plan_id=45`), RDD ids and
the source line of the call that made them (`MapPartitionsRDD[7] at
localCheckpoint at MapBuild.scala:640`), UUIDs and temp-directory suffixes
in paths, and object hash codes. Prints one line per query, `identical`,
`different` (with the first differing line) or `missing` (present on one
side only); `--diff` adds a unified diff of the masked plans. Exits 1 if
any query is not identical, 2 on bad arguments.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.(?:scala|java)):\d+"), r"\1:N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
    # createTempDirectory's random suffix: a long digit run glued to a name
    (re.compile(r"(?<=[A-Za-z])\d{9,}"), "N"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{5,}\b"), "@H"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines()


def plans(d):
    return {n[:-4] for n in os.listdir(d) if n.endswith(".txt")}


def main(argv):
    args = [a for a in argv if a != "--diff"]
    if len(args) != 2 or not all(os.path.isdir(d) for d in args):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = args
    bad = 0
    for q in sorted(plans(a) | plans(b)):
        pa, pb = os.path.join(a, q + ".txt"), os.path.join(b, q + ".txt")
        if not (os.path.exists(pa) and os.path.exists(pb)):
            print(f"{q}: missing in {b if os.path.exists(pa) else a}")
            bad += 1
            continue
        la, lb = masked(pa), masked(pb)
        if la == lb:
            print(f"{q}: identical")
            continue
        bad += 1
        i = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y), min(len(la), len(lb)))
        print(f"{q}: different at line {i + 1}")
        if "--diff" in argv:
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                la, lb, pa, pb, lineterm="", n=2))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
