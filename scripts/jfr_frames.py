#!/usr/bin/env python3
"""Aggregate a JFR recording's execution samples by frame.

    python3 scripts/jfr_frames.py REC.jfr [--threads PREFIX] [--skip S]
        [--until U] [--record RUN.json] [--top N] [--match TEXT ...]
        [--layers]

Reads `jdk.ExecutionSample` events with `jfr print --stack-depth 64`
(jfr's default depth, 5, cuts a sort sample off from its caller), keeps
the samples of threads whose name starts with PREFIX (default: Spark's
"Executor task launch worker") taken between S and U seconds after the
recording's earliest sample (--record takes the window of a perfbench run
record instead: from the end of its set-ups and settling runs to the
end of its timed runs), and prints the top N frames by self samples
(the frame on top of the stack) and by inclusive samples (the frame
anywhere in the stack, counted once per sample). Each --match TEXT adds
a line with the share of samples whose stack holds a frame containing
TEXT; "A>B" counts samples where a frame containing B is called, at any
depth, from a frame containing A. --layers splits the samples into the
pipeline's layers (LAYERS below): each sample goes to the layer of the
frame nearest the top of its stack that matches one, or to "rest".
"""
import argparse
import collections
import json
import re
import subprocess
import sys

EVENT = re.compile(r"^jdk\.ExecutionSample \{")
TIME = re.compile(r"^\s*startTime = (\d\d):(\d\d):(\d\d)\.(\d+)")
THREAD = re.compile(r'^\s*sampledThread = "(.*)" \(')
FRAME = re.compile(r"^\s+([\w$.<>/\[\]]+)\(.*\)(?:\s+line:.*)?$")

# (layer, frame substrings) in print order
LAYERS = [
    ("sink", ("org.apache.parquet", "ParquetWriteSupport")),
    ("mask branches", ("graft.ops.Masking$.branchRecord",)),
    ("shape", ("graft.ops.Features$.shapeRow",)),
    ("texture", ("graft.ops.Features$.textureRow",)),
    ("intensity", ("graft.ops.Features$.intensityViews",)),
    ("sources", ("graft.sources.",)),
]


def layer_of(frames):
    for f in frames:
        for name, subs in LAYERS:
            if any(x in f for x in subs):
                return name
    return "rest"


def samples(path):
    """yield (seconds of day, thread name, frames top first)"""
    out = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample",
                          "--stack-depth", "64", path],
                         check=True, capture_output=True, text=True).stdout
    t = thread = None
    frames = []
    inside = False
    for line in out.splitlines():
        if EVENT.match(line):
            t, thread, frames, inside = None, None, [], False
        elif (m := TIME.match(line)):
            h, mi, s, frac = m.groups()
            t = int(h) * 3600 + int(mi) * 60 + int(s) + float("0." + frac)
        elif (m := THREAD.match(line)):
            thread = m.group(1)
        elif line.strip() == "stackTrace = [":
            inside = True
        elif inside and line.strip() == "]":
            inside = False
        elif inside and (m := FRAME.match(line)):
            frames.append(m.group(1))
        elif line.strip() == "}" and t is not None:
            yield t, thread or "", frames
            t = None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("recording")
    ap.add_argument("--threads", default="Executor task launch worker")
    ap.add_argument("--skip", type=float, default=0.0)
    ap.add_argument("--until", type=float, default=float("inf"))
    ap.add_argument("--record")
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--match", action="append", default=[])
    ap.add_argument("--layers", action="store_true")
    a = ap.parse_args()
    if a.record:
        rec = json.load(open(a.record))
        at = rec["elapsed"]["jvm_phases_at_s"]
        settle = sum(x["wall_s"] for x in rec["samples"] if "/settle" in x["out"])
        a.skip, a.until = at["setups"] + settle, at["measured"]

    every = list(samples(a.recording))
    first = min(t for t, _, _ in every)
    kept = [frames for t, thread, frames in every
            if thread.startswith(a.threads) and a.skip <= t - first <= a.until and frames]
    n = len(kept)
    if n == 0:
        sys.exit("no samples kept")
    self_counts = collections.Counter(f[0] for f in kept)
    incl_counts = collections.Counter(x for f in kept for x in set(f))
    print(f"{n} samples from threads '{a.threads}*', {a.skip}-{a.until} s")
    for title, counts in (("self", self_counts), ("inclusive", incl_counts)):
        print(f"\n-- top {a.top} by {title} samples")
        for frame, c in counts.most_common(a.top):
            print(f"{100.0 * c / n:6.1f}%  {c:6d}  {frame}")
    if a.match:
        print("\n-- matches")
    for m in a.match:
        caller, _, callee = m.rpartition(">")

        def hit(frames):
            for i, f in enumerate(frames):
                if callee in f:
                    return not caller or any(caller in g for g in frames[i + 1:])
            return False
        c = sum(1 for f in kept if hit(f))
        print(f"{100.0 * c / n:6.1f}%  {c:6d}  {m}")
    if a.layers:
        counts = collections.Counter(layer_of(f) for f in kept)
        print("\n-- layers")
        for name in [x for x, _ in LAYERS] + ["rest"]:
            c = counts[name]
            print(f"{100.0 * c / n:6.1f}%  {c:6d}  {name}")


if __name__ == "__main__":
    main()
