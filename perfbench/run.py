"""Benchmark of the imaging pipeline and the query registry, driven from
outside the program.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the JVM side
(perfbench/scala) as one closed-loop process on local[nproc], checks every
output, and prints one JSON result as the last line of stdout. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones from a separate traced run. A layer the workload does
not exercise (the registry on an imaging workload, a stage its config
lacks) reads 0. The full record (run
context, every sample, check results, span self times) goes to stderr and
to BUILD_DIR/results/. Exits non-zero when an output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
REGISTRY = "registry_sf0.01"
# input sizes: events per run (the set-up warm-up's inputs are as large);
# for the registry, the tables' scale factor
SIZES = {"zarr_reference": 160, "tiff_segment_fullstack": 64, REGISTRY: 0.01}
SMOKE_EVENTS = 24
SMOKE_SF = 0.001
# registry cells of every family, none of which reads or writes outside
# the directories the benchmark hands it (other cells keep fixtures under
# a fixed system temp path)
CELLS = ["q07_agg_pricing_summary", "d01_dedup_exact",
         "s01_knn_brute", "t01_token_stats", "m06_wav_features", "p14_bucketed_join",
         "p24_stream_enrich"]
SETUPS = 2
# untimed runs between the set-ups and the timed loop, while the JIT still
# compiles what the set-ups ran (each run's `jit_s` in the record)
SETTLE = 2
JVM_DEADLINE_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
MB = 1024.0 * 1024.0


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_jvm(cp, plan_path, result_path, log_path):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(plan_path)}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", plan_path, result_path]
    os.makedirs(f"{os.path.dirname(plan_path)}/tmp", exist_ok=True)
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.writelines(tail)
        raise SystemExit(f"perfbench: JVM exited with {rc}")


def cpu_steal_s():
    """seconds of CPU time the hypervisor gave to other guests since boot
    (the `steal` field of /proc/stat), or None where there is none"""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def source_identity():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true",
                    help=f"{SMOKE_EVENTS} events per run, or registry tables at scale "
                         f"factor {SMOKE_SF}: checks the plumbing, not speed")
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build.build(build_dir)

    registry = a.workload == REGISTRY
    t0, elapsed = time.time(), {}
    events = SIZES[a.workload]
    if a.smoke:
        events = SMOKE_SF if registry else SMOKE_EVENTS
    tag = f"{a.workload}.seed{a.seed}.trace{a.trace}"
    work = os.path.join(build_dir, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    manifest = gen.generate(os.path.join(work, "in"), a.seed, a.workload, events)
    # imaging set-ups read their own inputs, as large as the timed ones,
    # from a seed no run uses; the registry's set-ups run the cells on the
    # workload's tables
    warm = manifest if registry else gen.generate(
        os.path.join(work, "warm"), a.seed + 1_000_003, a.workload, events)
    plan = {"workload": a.workload, "config": manifest["config"], "paths": manifest["paths"],
            "warm_config": warm["config"], "warm_paths": warm["paths"],
            "out": os.path.join(work, "out"), "local_dir": os.path.join(work, "spark-local"),
            "seconds": a.seconds, "trace": bool(a.trace), "setups": 1 if a.trace else SETUPS,
            "settle": 0 if a.trace else SETTLE,
            "cpus": os.cpu_count(), "cells": CELLS if registry else []}
    plan_path, result_path = os.path.join(work, "plan.json"), os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    elapsed["inputs_s"] = time.time() - t0
    t0, steal0 = time.time(), cpu_steal_s()
    run_jvm(cp, plan_path, result_path, os.path.join(work, "jvm.log"))
    elapsed["jvm_s"] = time.time() - t0
    steal1 = cpu_steal_s()
    t0 = time.time()
    with open(result_path) as f:
        res = json.load(f)
    elapsed["jvm_phases_at_s"] = res["phases_at_s"]

    if a.trace:
        tr = res["trace"]
        samples = tr["untraced"] + [dict(tr["traced"], cells=tr.get("cells", []))]
    else:
        # the settling runs' outputs are checked too; only the timed
        # runs are in the median
        samples = res["settle"] + res["runs"]
    digests, failed, attempted = set(), 0, len(samples)
    for s in samples:
        if registry:
            problems = [f"{c['cell']} failed: {c.get('error')}"
                        for c in s.get("cells", []) if not c["ok"]]
        else:
            problems = [f"Cli.run failed: {s.get('error')}"] if not s["ok"] else []
        if s["ok"] and not registry:
            found, dg = checks.CHECKS[a.workload](s["out"], manifest["config"], events)
            problems += found
            s["digest"] = dg
            digests.add(dg)
            s["output_bytes"] = gen.du(s["out"])
        s["problems"] = problems
        failed += bool(problems)
        for p in problems:
            log(f"check failed ({os.path.basename(s.get('out', 'pass'))}): {p}")
    deterministic = len(digests) <= 1
    if not deterministic:
        log(f"outputs of the same inputs differ across runs: {sorted(digests)}")
    cell_checks = {}
    if registry:
        # every set-up wrote each cell's output to parquet; each is
        # compared with the cell's DuckDB oracle over the same tables
        for k in range(1, plan["setups"] + 1):
            found = checks.check_cells(os.path.join(plan["out"], f"setup{k}"),
                                       manifest["paths"][0], CELLS)
            attempted += len(found)
            for cell, problem in found.items():
                cell_checks[f"setup{k}/{cell}"] = problem
                if problem:
                    failed += 1
                    log(f"check failed (setup{k}/{cell}): {problem}")

    if not a.trace:
        ok = [s for s in res["runs"] if s["ok"]]
        # no successful run leaves nothing to time; the result says so
        # through `correct` and `failed`
        wall = stats.median([s["wall_s"] for s in ok]) if ok else 0.0
        values = {"setup_s": stats.median(res["setup_s"]), "wall_s": wall}
        if registry:
            # a registry "event" is one cell; its output is what the
            # cells wrote in the first set-up (the timed sink writes
            # nothing)
            values["events_per_s"] = len(CELLS) / wall if wall else 0.0
            values["output_mb"] = gen.du(os.path.join(plan["out"], "setup1")) / MB
        else:
            values["events_per_s"] = events / wall if wall else 0.0
            values["output_mb"] = stats.median([s["output_bytes"] for s in ok]) / MB if ok else 0.0
    else:
        values = dict(tr["layers"])
        # time some root query was executing inside the traced run; the
        # program may run several at once (branch thread pools)
        root = next(s for s in tr["spans"] if s["name"] == tr["root_span"])
        values["spark.exec_s"] = stats.covered(
            [(max(s["start"], root["start"]), min(s["end"], root["end"]))
             for s in tr["spans"] if s["name"] == "spark.query"
             and s["end"] > root["start"] and s["start"] < root["end"]])
        by_name = stats.self_time_by_name(tr["spans"])
        res["trace"]["self_time"] = {n: {"count": c, "total_s": d, "self_s": s}
                                     for n, (c, d, s) in sorted(by_name.items())}
        res["trace"]["overhead_s"] = tr["layers"]["trace.overhead_s"]
        log(f"tracing overhead: traced {tr['root_span']} {tr['traced']['wall_s']:.3f} s - "
            f"untraced {tr['untraced'][-1]['wall_s']:.3f} s = "
            f"{tr['layers']['trace.overhead_s']:.3f} s")
        tr["not_exercised"] = sorted(m["name"] for m in declared if m["name"] not in values)

    correct = failed == 0 and deterministic
    elapsed["checks_s"] = time.time() - t0
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "smoke": a.smoke,
              "inputs": {"events": manifest["events"], "bytes": manifest["bytes"]},
              "context": dict(res["context"], git_commit=source_identity(),
                              cpu_steal_s=None if steal0 is None else steal1 - steal0,
                              source_sha256=open(os.path.join(build_dir, "classes.stamp")).read()),
              "setup_s": res["setup_s"], "samples": samples, "deterministic": deterministic,
              "cell_checks": cell_checks, "elapsed": elapsed, "trace_record": res.get("trace"),
              "metrics": {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
                          for m in declared}}
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    with open(os.path.join(build_dir, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    summary = {k: record[k] for k in ("workload", "seed", "trace", "inputs", "context",
                                      "setup_s", "deterministic", "cell_checks",
                                      "elapsed")}
    summary["samples"] = [{k: s.get(k) for k in ("wall_s", "output_bytes", "digest", "problems")}
                          for s in samples]
    print(json.dumps(summary), file=sys.stderr)
    # the inputs and outputs of this run are no longer needed
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
