#!/usr/bin/env python3
"""Smoke test of the store-path benchmark.

    python3 perfbench/smoke_test.py

Run from the repository root (takes about ten minutes on four cores). On a
small input it runs every workload untraced and traced and checks that the
result line names every metric BENCHMARK.json declares, with its unit, and
that each run is correct. Then it injects a wrong serve answer and a thrown
exception, both inside the benchmark's own code, and checks that each counts
as a failed operation. Last, it checks that the benchmark refuses to run,
without printing a result, in a directory holding only BENCHMARK.json and
the benchmark.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ROWS = "1000"


def run(workload, trace, inject="none", cwd=ROOT):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", trace, "--rows", ROWS, "--inject", inject]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return proc


def result(proc, what):
    assert proc.returncode == 0, f"{what}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, f"{what}: keys {set(res)}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, what
    assert isinstance(res["failed"], int), what
    report = {}
    for l in lines[:-1]:
        parts = l.split()
        if len(parts) == 3:
            report[parts[0]] = (float(parts[1]), parts[2])
    return res, report


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
                "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    errors = []

    def check(cond, msg):
        if not cond:
            errors.append(msg)
            print(f"FAIL {msg}", flush=True)

    for workload in ("build", "ingest", "serve"):
        for trace in ("0", "1"):
            what = f"{workload} trace={trace}"
            res, report = result(run(workload, trace), what)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == declared[trace], f"{what}: metrics {sorted(got.items())} "
                                          f"!= declared {sorted(declared[trace].items())}")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{what}: a metric value is not a number")
            check(res["correct"] is True and res["failed"] == 0,
                  f"{what}: correct={res['correct']} failed={res['failed']}")
            check(report.get("error_rate") == (0.0, "ratio"),
                  f"{what}: error_rate line {report.get('error_rate')}")
            for name, unit in declared[trace].items():
                check(name in report and report[name][1] == unit,
                      f"{what}: report line for {name} [{unit}] missing")
            print(f"ok   {what}: attempted {res['attempted']}", flush=True)

    for inject in ("wrong_answer", "throw"):
        what = f"serve inject={inject}"
        res, report = result(run("serve", "0", inject), what)
        check(res["failed"] >= 1 and res["correct"] is False,
              f"{what}: failed={res['failed']} correct={res['correct']}")
        check(report.get("error_rate", (0.0,))[0] > 0, f"{what}: error_rate {report.get('error_rate')}")
        print(f"ok   {what}: failed {res['failed']} of {res['attempted']}", flush=True)

    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "work", "out", "project/project"))
        proc = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload",
                               "build", "--seed", "1", "--seconds", "1", "--trace", "0"],
                              cwd=bare, capture_output=True, text=True, timeout=180)
        check(proc.returncode != 0 and not proc.stdout.strip(),
              f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}")
        print("ok   bare directory refused", flush=True)

    if errors:
        print(f"{len(errors)} failures")
        sys.exit(1)
    print("smoke test passed")


if __name__ == "__main__":
    main()
