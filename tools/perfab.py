#!/usr/bin/env python3
"""Interleaved A/B of the store-path benchmark between two checkouts.

    python3 tools/perfab.py --base DIR --change DIR --workload build \
        --seeds 501-507 [--seconds 6] [--json out.json]

Runs `python3 perfbench/run.py --workload W --seed N --seconds S --trace 0`
once in each checkout per seed: one pair per seed, the base running first in
odd pairs and the change first in even ones, so drift on the host falls on
both sides alike. Each side builds its own benchmark (perfbench/run.py
compiles the checkout's sources when they changed).

For every end-to-end metric of the base's BENCHMARK.json it prints the
median and quartiles of each side, the change in the median, the base's
IQR (q3 - q1), whether the medians differ by more than that IQR, and the
pairs the change won (better by the metric's direction). Quartiles are
the inclusive method of `statistics.quantiles`.

Exit status: 0 when every run finished and was correct (`correct` true,
`failed` 0), 1 otherwise; 2 on bad arguments.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seed_list(spec):
    """"501-507" or "501,503,510" -> [501, ...]."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, workload, seed, seconds):
    """One untraced perfbench run: (result dict or None, wall seconds, stderr tail)."""
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    wall = time.time() - t0
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    return result, wall, "\n".join(proc.stderr.splitlines()[-5:])


def value(result, name):
    m = result.get("metrics", {}).get(name)
    if isinstance(m, dict):
        m = m.get("value")
    return None if m is None else float(m)


def correct(result):
    return (result is not None and str(result.get("correct")).lower() == "true"
            and int(result.get("failed", 1)) == 0)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--base", required=True, help="checkout of the parent commit")
    p.add_argument("--change", required=True, help="checkout of the change")
    p.add_argument("--workload", required=True, choices=["build", "serve", "ingest"])
    p.add_argument("--seeds", required=True, help='one pair per seed: "501-507" or "1,5,9"')
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--json", help="also write every run and the summary here")
    a = p.parse_args()

    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    for name, d in sides.items():
        if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
            print(f"{name}: no perfbench/run.py under {d}", file=sys.stderr)
            return 2
    with open(os.path.join(sides["base"], "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]
    try:
        seeds = seed_list(a.seeds)
    except ValueError:
        print(f"bad --seeds {a.seeds!r}", file=sys.stderr)
        return 2

    runs = []
    ok = True
    for i, seed in enumerate(seeds):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            result, wall, err = run_once(sides[side], a.workload, seed, a.seconds)
            good = correct(result)
            ok &= good
            pair[side] = {"correct": good, "wall_s": round(wall, 1),
                          "metrics": {n: value(result, n) for n, _ in metrics} if result else {}}
            shown = " ".join(f"{n}={pair[side]['metrics'].get(n)}" for n, _ in metrics)
            print(f"[perfab] pair {i + 1}/{len(seeds)} seed {seed} {side}: "
                  f"{'correct' if good else 'INCORRECT'} {shown}", file=sys.stderr, flush=True)
            if not good:
                print(err, file=sys.stderr)
        runs.append(pair)

    summary = {}
    print(f"{a.workload}: {len(seeds)} pairs, seeds {a.seeds}")
    print(f"{'metric':<10} {'base median [q1, q3]':>28} {'change median [q1, q3]':>28} "
          f"{'delta':>8} {'base IQR':>10} {'gap>IQR':>8} {'won':>6}")
    for name, better in metrics:
        both = [(r["base"]["metrics"].get(name), r["change"]["metrics"].get(name)) for r in runs]
        both = [(b, c) for b, c in both if b is not None and c is not None]
        if not both:
            print(f"{name:<10} no complete pair")
            continue
        base = [b for b, _ in both]
        change = [c for _, c in both]
        bm, cm = statistics.median(base), statistics.median(change)
        (bq1, bq3), (cq1, cq3) = quartiles(base), quartiles(change)
        iqr = bq3 - bq1
        won = sum(1 for b, c in both if (c < b if better == "lower" else c > b))
        gap = abs(cm - bm) > iqr
        delta = (cm - bm) / bm * 100 if bm else float("nan")
        summary[name] = {"better": better, "base_median": bm, "base_q1": bq1, "base_q3": bq3,
                         "change_median": cm, "change_q1": cq1, "change_q3": cq3,
                         "base_iqr": iqr, "delta_pct": delta, "gap_exceeds_iqr": gap,
                         "pairs_won": won, "pairs": len(both)}
        print(f"{name:<10} {f'{bm:.4g} [{bq1:.4g}, {bq3:.4g}]':>28} "
              f"{f'{cm:.4g} [{cq1:.4g}, {cq3:.4g}]':>28} {delta:>+7.1f}% {iqr:>10.4g} "
              f"{'yes' if gap else 'no':>8} {f'{won}/{len(both)}':>6}")
    print("every run correct" if ok else "SOME RUN INCORRECT OR FAILED")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seeds": seeds, "seconds": a.seconds,
                       "sides": sides, "runs": runs, "summary": summary,
                       "all_correct": ok}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
