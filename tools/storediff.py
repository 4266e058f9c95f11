#!/usr/bin/env python3
"""Compare the live stores of two `Workflow` work directories.

    python3 tools/storediff.py <workDirA> <workDirB>

Each work dir's `manifest.json` names its live version. Its sub-stores are
the points store, the point-blob store, every `srs=<srs>/zoom=<z>` tile
directory and, per projection, the fine and coarse pixel state
(`v<N>/state/srs=<srs>/{fine,coarse}`). For every sub-store the two sides
must agree on:

- rows: the row count, the schema and an order-independent content hash
  (sum of per-row hashes) with the hive partition columns of the path
  (`srs`, `zoom`, `salt`, `pt`) included;
- files: the number of `.parquet` and `.crc` files in each directory;
- modes: the POSIX mode of every directory and file, by relative path, with
  part-file names masked (two runs never share their UUIDs).

Prints `identical` or `different` (with what differs) per sub-store, or
`missing` for a sub-store on one side only. Exits 1 on any difference,
2 on bad arguments. Needs DuckDB, as `tools/check.py` does.
"""
import json
import os
import re
import stat
import sys

import duckdb

PART = re.compile(r"part-\d+-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def sub_stores(work_dir):
    """{name: directory} of the live version's sub-stores."""
    with open(os.path.join(work_dir, "manifest.json"), encoding="utf-8") as f:
        m = json.load(f)
    version = f"v{m['version']}"

    def local(path):
        # manifest paths are absolute where the store was built; re-root them
        return os.path.join(work_dir, path[path.index(f"/{version}/") + 1:])

    points, tiles = local(m["points"]), local(m["tiles"])
    stores = {"points": points, "blobs": points + "_blobs"}
    for srs in sorted(os.listdir(tiles)):
        for zoom in sorted(os.listdir(os.path.join(tiles, srs))):
            if zoom.startswith("zoom="):
                stores[f"tiles/{srs}/{zoom}"] = os.path.join(tiles, srs, zoom)
    state = os.path.join(work_dir, version, "state")
    if os.path.isdir(state):
        for srs in sorted(os.listdir(state)):
            for half in ("fine", "coarse"):
                stores[f"state/{srs}/{half}"] = os.path.join(state, srs, half)
    return stores


def rows(con, root):
    """(row count, schema, content hash) of the parquet files under `root`."""
    src = (f"read_parquet('{root}/**/*.parquet', hive_partitioning = true, "
           f"union_by_name = true)")
    schema = sorted((r[0], r[1]) for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall())
    cols = ", ".join(f'"{name}"' for name, _ in schema)
    n, h = con.sql(f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {src}").fetchone()
    return n, schema, h


def layout(root):
    """Per directory: (.parquet count, .crc count); per masked path: modes."""
    counts, modes = {}, {}
    for d, dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        counts[rel] = (sum(f.endswith(".parquet") for f in files),
                       sum(f.endswith(".crc") for f in files))
        for name in dirs + files:
            key = os.path.join(rel, PART.sub("part-*", name))
            mode = f"{stat.S_IMODE(os.stat(os.path.join(d, name)).st_mode):04o}"
            modes.setdefault(key, []).append(mode)
    modes["."] = [f"{stat.S_IMODE(os.stat(root).st_mode):04o}"]
    return counts, {k: sorted(v) for k, v in modes.items()}


def first_difference(a, b):
    """The first key whose value differs between two dicts, or None."""
    for k in sorted(set(a) | set(b)):
        if a.get(k) != b.get(k):
            return f"{k}: {a.get(k)} vs {b.get(k)}"
    return None


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    try:
        a, b = sub_stores(argv[1]), sub_stores(argv[2])
    except (OSError, KeyError, ValueError) as e:
        print(f"cannot resolve the stores: {e}", file=sys.stderr)
        return 2
    con = duckdb.connect()
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"{name}: missing in {'A' if name not in a else 'B'}")
            bad += 1
            continue
        (na, sa, ha), (nb, sb, hb) = rows(con, a[name]), rows(con, b[name])
        (ca, ma), (cb, mb) = layout(a[name]), layout(b[name])
        why = []
        if (na, sa, ha) != (nb, sb, hb):
            why.append(f"rows {na} vs {nb}" if na != nb else
                       "schema" if sa != sb else "content hash")
        if ca != cb:
            why.append(f"files ({first_difference(ca, cb)})")
        if ma != mb:
            why.append(f"modes ({first_difference(ma, mb)})")
        print(f"{name}: {'different: ' + '; '.join(why) if why else 'identical'} ({na} rows)")
        bad += bool(why)
    print(f"{len(set(a) | set(b))} sub-stores, {bad} not identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
