#!/usr/bin/env python3
"""Round-over-round bench regression gate on the STABLE axes (round-10
verdict #7): wall-clock on a shared box swings ±40%, so adjudicating on it
burned an arbiter A/B cycle three rounds running. BENCH_DETAIL.json records
per-query {wall_s, cpu_s, shuffle_mb}; this tool diffs two such records and
flags queries whose cpu_s or shuffle_mb moved more than THRESH (default
20%), emitting BENCH_DELTA.json — a machine-checked list the verdict can
cite instead of re-running arbiters.

Usage: bench_delta.py PREV.json CUR.json [OUT.json] [--thresh 0.20]

Notes on the axes (calibrated on the r10->r11 diff, the first real pair):
- shuffle_mb is the HARD axis: shuffle WRITE bytes are deterministic for a
  fixed plan and input — measured across the 182 shared queries the
  round-over-round ratio was exactly 1.00 with zero >20% movers, so any
  flag here means the plan or data volume actually changed. Floor 5 MB,
  threshold = --thresh (default 20%).
- cpu_s is SOFT: executor CPU inflates under co-run contention (r10's
  co-run record read 1.35x r11's idle one overall, heavies up to 2.6x) and
  jitters up to ~3x on sub-10s-cpu queries (GC/JIT attribution at tiny
  scale). Floor 30 cpu_s, threshold max(30%, --thresh) — and a cpu-only
  flag should be read against the run conditions before adjudicating.
- wall_s rides along for context but NEVER flags.
- Queries present in only one record are listed as added/removed, not
  flagged (new operators are expected every round).
- Records from different hosts never compare: the tool refuses (exit 2,
  one line naming both records' cpus/mem_gb) when either record lacks
  `cpus`, when `cpus` differ, or when both carry `mem_gb` and it differs —
  cpu and shuffle both move with the core count (an 8-core record once
  silently replaced a 32-core one).
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def same_host(prev, cur):
    pc, cc = prev.get("cpus"), cur.get("cpus")
    pm, cm = prev.get("mem_gb"), cur.get("mem_gb")
    return pc is not None and cc is not None and pc == cc and (
        pm is None or cm is None or round(pm, 1) == round(cm, 1))


def main():
    argv = sys.argv[1:]
    args, thresh, i = [], 0.20, 0
    while i < len(argv):
        a = argv[i]
        if a == "--thresh" or a.startswith("--thresh="):
            if "=" in a:
                val = a.split("=", 1)[1]
            else:
                if i + 1 >= len(argv):
                    sys.exit("--thresh needs a value\n" + __doc__)
                val = argv[i + 1]
                i += 1  # consume the value so it never lands in positionals
            try:
                thresh = float(val)
            except ValueError:
                sys.exit(f"--thresh needs a number, got {val!r}\n" + __doc__)
        elif a.startswith("--"):
            # a gating tool must reject unknown flags loudly, not absorb them
            sys.exit(f"unknown flag {a!r}\n" + __doc__)
        else:
            args.append(a)
        i += 1
    if len(args) < 2:
        sys.exit(__doc__)
    prev_path, cur_path = args[0], args[1]
    out_path = args[2] if len(args) > 2 else "BENCH_DELTA.json"
    prev_rec, cur_rec = load(prev_path), load(cur_path)
    if not same_host(prev_rec, cur_rec):
        print(f"[bench_delta] refusing to compare records from different hosts: "
              f"{prev_path} cpus={prev_rec.get('cpus')} mem_gb={prev_rec.get('mem_gb')}, "
              f"{cur_path} cpus={cur_rec.get('cpus')} mem_gb={cur_rec.get('mem_gb')}",
              file=sys.stderr)
        sys.exit(2)
    prev, cur = prev_rec.get("queries", {}), cur_rec.get("queries", {})

    axes = (("cpu_s", 30.0, max(0.30, thresh)), ("shuffle_mb", 5.0, thresh))
    flagged, rows = [], {}
    for q in sorted(set(prev) | set(cur)):
        if q not in prev:
            rows[q] = {"status": "added"}
            continue
        if q not in cur:
            rows[q] = {"status": "removed"}
            continue
        p, c = prev[q], cur[q]
        row = {"status": "ok"}
        reasons = []
        for axis, floor, axis_thresh in axes:
            pv, cv = p.get(axis, 0.0), c.get(axis, 0.0)
            row[axis] = {"prev": pv, "cur": cv}
            if pv >= floor or cv >= floor:
                delta = (cv - pv) / max(pv, floor)
                row[axis]["delta_pct"] = round(100 * delta, 1)
                if abs(delta) > axis_thresh:
                    reasons.append(f"{axis} {'+' if delta > 0 else ''}{100 * delta:.0f}%")
        row["wall_s"] = {"prev": p.get("wall_s"), "cur": c.get("wall_s")}  # context only
        if reasons:
            row["status"] = "flagged"
            row["reasons"] = reasons
            flagged.append(q)
        rows[q] = row

    out = {
        "metric": "bench_delta",
        "prev": prev_path,
        "cur": cur_path,
        "thresh_pct": round(100 * thresh),
        "flagged": flagged,
        "queries": rows,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"[bench_delta] {len(flagged)} flagged of {len(rows)} queries "
          f"(thresh {100 * thresh:.0f}% on cpu_s/shuffle_mb) -> {out_path}")
    for q in flagged:
        print(f"  {q}: {', '.join(rows[q]['reasons'])}")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
