"""Steadiness check: run the benchmark on one workload with several seeds
and report, per metric, the median and the inter-quartile spread as a
share of the median (the statistic the acceptance bounds apply to), next
to each metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload NAME [--seeds 1-10] [--trace 0|1]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, default=seed_range("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args(argv)
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values, elapsed, ok = {}, [], True
    for seed in a.seeds:
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
        elapsed.append(time.time() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            ok = False
            continue
        res = json.loads(lines[-1])
        ok &= res["correct"]
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {elapsed[-1]:.0f} s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if k in bounds and bounds[k] is not None), flush=True)
    print(f"runs: {len(elapsed)}, wall per run: median {stats.median(elapsed):.1f} s, "
          f"max {max(elapsed):.1f} s, all correct: {ok}")
    for k, vs in values.items():
        sp = stats.spread(vs) if len(vs) >= 2 and stats.median(vs) else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if sp < b / 3 else ("within bound" if sp <= b else "TOO WIDE"))
        print(f"{k:32s} median {stats.median(vs):12.5g}  spread {sp:7.4f}  bound {b}  {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
