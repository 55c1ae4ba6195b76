#!/usr/bin/env python3
"""Paired comparison of two checkouts on the graft benchmark.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--workloads a,b]

Runs perfbench/run.py in PARENT_DIR and CHANGE_DIR in ten alternating pairs
(pair i uses seed SEED0+i on both sides; even pairs run the parent first, odd
pairs the change first), then prints one row per workload and end-to-end
metric with each side's median and quartiles and a verdict:

* improved / regressed: one side wins at least 9 in 10 pairs (ties count for
  neither) and the medians differ by more than the parent's own spread
  (the distance between its quartiles);
* regressed also when the change's median is worse than the parent's by more
  than the metric's bound from BENCHMARK.json;
* unresolved: the parent's spread is wider than the bound and not every run
  of the change beats every run of the parent;
* unchanged otherwise.

Time metrics are host-adjusted by a calibration job that runs in the same
JVM and session as graft (run.py's host_factor). So the raw calibration
times of the two sides (each run's median `calib_s` from its samples line)
get the same pair and spread test first; when they differ, every time verdict
of that workload is unresolved, since a change that slowed or sped up the
calibration itself would rescale its times.

Every sample is printed. Then each side runs once traced with the same seed,
and every per-layer count (unit "count") is diffed exactly.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

PAIRS = 10  # the 9-in-10 rule needs ten
SEED0 = 1000
TIME_UNITS = ("s", "ms")


def run(checkout, workload, seed, seconds, trace):
    """(samples line, result line) of one run."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{checkout}: {workload} seed {seed} exited with {p.returncode}")
    return json.loads(lines[-2])["samples"], json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, pairs, better, bound):
    sign = -1 if better == "lower" else 1
    wins_c = sum(1 for p, c in pairs if sign * (c - p) > 0)
    wins_p = sum(1 for p, c in pairs if sign * (p - c) > 0)
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    iqr = q3 - q1
    need = 0.9 * len(pairs)
    if wins_c >= need and abs(mc - mp) > iqr:
        return "improved"
    if wins_p >= need and abs(mc - mp) > iqr:
        return "regressed"
    if sign * (mp - mc) > bound * abs(mp):
        return "regressed"
    spread = iqr / abs(mp) if mp else 0.0
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if spread > bound and not all_better:
        return "unresolved"
    return "unchanged"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}

    for w in workloads:
        samples = {"parent": [], "change": []}
        calib = {"parent": [], "change": []}
        for i in range(PAIRS):
            seed = SEED0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                raw, res = run(getattr(a, side), w, seed, seconds, 0)
                if not res["correct"]:
                    print(f"{w} {side} seed {seed}: output check failed")
                samples[side].append(res["metrics"])
                calib[side].append(statistics.median(raw["calib_s"]))
        print(json.dumps({"workload": w, "samples": samples, "calib_s": calib}))
        print(f"{'workload':18} {'metric':14} {'parent med [q1,q3]':>30} "
              f"{'change med [q1,q3]':>30}  verdict")

        def row(name, p, c, v):
            fp = "%.4g [%.4g,%.4g]" % ((statistics.median(p),) + quartiles(p))
            fc = "%.4g [%.4g,%.4g]" % ((statistics.median(c),) + quartiles(c))
            print(f"{w:18} {name:14} {fp:>30} {fc:>30}  {v}")

        p, c = calib["parent"], calib["change"]
        calib_v = verdict(p, c, list(zip(p, c)), "lower", max(m["bound"] for m in e2e.values()))
        row("raw calib_s", p, c, calib_v)
        for name in samples["parent"][0]:
            m = e2e[name]
            p = [x[name]["value"] for x in samples["parent"]]
            c = [x[name]["value"] for x in samples["change"]]
            v = verdict(p, c, list(zip(p, c)), m["better"], m["bound"])
            if calib_v != "unchanged" and m["unit"] in TIME_UNITS:
                v = "unresolved (calibration moved)"
            row(name, p, c, v)

        traced = {side: run(getattr(a, side), w, SEED0, seconds, 1)[1]["metrics"]
                  for side in ("parent", "change")}
        diffs = [(k, x["value"], traced["change"].get(k, {}).get("value"))
                 for k, x in traced["parent"].items() if x["unit"] == "count"
                 and x["value"] != traced["change"].get(k, {}).get("value")]
        for k, p, c in diffs:
            print(f"{w:18} count {k}: parent {p} change {c}")
        if not diffs:
            print(f"{w:18} all traced counts equal")


if __name__ == "__main__":
    main()
