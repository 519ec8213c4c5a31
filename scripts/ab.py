#!/usr/bin/env python3
"""Same-window A/B of two source trees on one perfbench workload.

    python3 scripts/ab.py PARENT_TREE CHANGE_TREE --workload W --seeds A-B [--out FILE]

Runs `perfbench/run.py --trace 0` of each tree once per seed, one JVM at a
time, at the run length BENCHMARK.json fixes (`run_seconds`). Odd seeds
run the parent first and even seeds the change first, so a drift in the
machine's speed falls on both sides. Each tree builds and runs from its
own directory, with its own `.bench_build/`.

For every end-to-end metric of BENCHMARK.json the script prints each
side's median and quartiles, the pairs the change won (a tie counts for
neither side), and whether the gain rule of the choosing-metrics guide
(section 8) holds: the change wins at least nine tenths of the pairs,
and the medians differ, in the metric's better direction, by more than
the distance between the parent's quartiles. It also prints, per metric,
whether the change's median is within the metric's regression bound. A
run that fails or whose output checks fail is reported and its pair is
left out. `--out` keeps every run's result as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(tree, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {}
    ok = proc.returncode == 0 and res.get("correct", False)
    if not ok:
        print(f"  {tree} seed {seed}: exit {proc.returncode}\n{proc.stderr[-1500:]}",
              file=sys.stderr)
    return {"ok": ok, "elapsed_s": time.time() - t0, "result": res}


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, required=True)
    ap.add_argument("--out")
    a = ap.parse_args(argv)
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    seconds = bench["run_seconds"]

    runs = []
    for seed in a.seeds:
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        pair = {"seed": seed}
        for side in order:
            pair[side] = run(trees[side], a.workload, seed, seconds)
        runs.append(pair)
        print(f"seed {seed} ({order[0]} first): " + "  ".join(
            f"{side} " + (" ".join(f"{m['name']}={pair[side]['result']['metrics'][m['name']]['value']:.4g}"
                                   for m in metrics) if pair[side]["ok"] else "FAILED")
            for side in ("parent", "change")), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trees": trees, "runs": runs}, f, indent=1)

    good = [p for p in runs if p["parent"]["ok"] and p["change"]["ok"]]
    failed = {side: sum(not p[side]["ok"] for p in runs) for side in trees}
    print(f"\n{a.workload}: {len(good)} complete pairs of {len(runs)}; "
          f"failed runs: parent {failed['parent']}, change {failed['change']}")
    if not good:
        return 1
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        par = [p["parent"]["result"]["metrics"][name]["value"] for p in good]
        chg = [p["change"]["result"]["metrics"][name]["value"] for p in good]
        wins = sum((c > p) if higher else (c < p) for p, c in zip(par, chg))
        losses = sum((c < p) if higher else (c > p) for p, c in zip(par, chg))
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        gain = (cmed - pmed) if higher else (pmed - cmed)
        rule = wins >= 0.9 * len(good) and gain > pq3 - pq1
        worse = -gain / pmed if pmed else 0.0
        print(f"{name:14s} parent {pmed:10.4g} [{pq1:.4g}, {pq3:.4g}]  "
              f"change {cmed:10.4g} [{cq1:.4g}, {cq3:.4g}]  "
              f"change better in {wins}/{len(good)} pairs (worse in {losses})  "
              f"median gain {100 * gain / pmed if pmed else 0:+.1f}% vs parent IQR "
              f"{100 * (pq3 - pq1) / pmed if pmed else 0:.1f}%  "
              f"gain rule {'HOLDS' if rule else 'does not hold'}  "
              f"{'within' if worse <= m['bound'] else 'OUTSIDE'} bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
