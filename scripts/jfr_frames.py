#!/usr/bin/env python3
"""Aggregate a JFR recording's execution samples by frame.

    python3 scripts/jfr_frames.py REC.jfr [--threads PREFIX] [--skip S]
        [--until U] [--record RUN.json] [--top N] [--match TEXT ...]
        [--layers] [--alloc]

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
pipeline's layers: a sample whose first graft frame from the top writes
wide-row cells (ROW_PATH below) goes to "row path"; any other sample goes
to the layer (LAYERS below) of the frame nearest the top of its stack
that matches one, or to "rest".

--alloc reads `jdk.ObjectAllocationSample` events instead and weighs
each by its sampled bytes (`weight`), so every share is a share of the
bytes allocated in the window. Its "self" table keys each sample by the
first frame from the top outside the JDK (JDK_PREFIXES): the code that
asked for the bytes, not the `Arrays.copyOf` that took them.
"""
import argparse
import collections
import json
import re
import subprocess
import sys

TIME = re.compile(r"^\s*startTime = (\d\d):(\d\d):(\d\d)\.(\d+)")
THREAD = re.compile(r'^\s*(?:sampledThread|eventThread) = "(.*)" \(')
WEIGHT = re.compile(r"^\s*weight = ([\d.]+) (bytes?|kB|MB|GB|TB)$")
UNITS = {"byte": 1, "bytes": 1, "kB": 1 << 10, "MB": 1 << 20, "GB": 1 << 30, "TB": 1 << 40}
JDK_PREFIXES = ("java.", "javax.", "jdk.", "sun.", "com.sun.")
FRAME = re.compile(r"^\s+([\w$.<>/\[\]]+)\(.*\)(?:\s+line:.*)?$")

# the row path: writing the wide-row cells, not computing them. A sample
# is charged to it when the first graft frame from the top of its stack
# holds one of these (so boxing, the row writer and array copies called
# from them count, and a kernel called from the same code does not)
ROW_PATH = ("graft.plans.", "graft.ops.Features$.emit", "graft.ops.Features$.metaCells",
            "graft.ops.Features$.featureCells", "graft.pipeline.Pipeline$.$anonfun$fusedRow")

# (layer, frame substrings) in print order, after the row path
LAYERS = [
    ("sink", ("org.apache.parquet", "ParquetWriteSupport", "graft.export.Export$Part",
              "graft.export.Export$BlockStream")),
    ("mask branches", ("graft.ops.Masking$.branchRecord",)),
    ("shape", ("graft.ops.Features$.shapeRow",)),
    ("texture", ("graft.ops.Features$.textureRow",)),
    ("intensity", ("graft.ops.Features$.intensityViews",)),
    ("sources", ("graft.sources.",)),
]


def layer_of(frames):
    own = next((f for f in frames if f.startswith("graft.")), "")
    if any(x in own for x in ROW_PATH):
        return "row path"
    for f in frames:
        for name, subs in LAYERS:
            if any(x in f for x in subs):
                return name
    return "rest"


def first_own_frame(frames):
    """the first frame from the top outside the JDK, else the top one"""
    return next((f for f in frames if not f.startswith(JDK_PREFIXES)), frames[0])


def samples(path, event):
    """yield (seconds of day, thread name, frames top first, weight);
    the weight is the sampled bytes of an allocation sample, else 1"""
    out = subprocess.run(["jfr", "print", "--events", event,
                          "--stack-depth", "64", path],
                         check=True, capture_output=True, text=True).stdout
    start = event + " {"
    t = thread = None
    frames = []
    weight = 1.0
    inside = False
    for line in out.splitlines():
        if line == start:
            t, thread, frames, weight, inside = None, None, [], 1.0, False
        elif (m := WEIGHT.match(line)):
            weight = float(m.group(1)) * UNITS[m.group(2)]
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
            yield t, thread or "", frames, weight
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
    ap.add_argument("--alloc", action="store_true")
    a = ap.parse_args()
    if a.record:
        rec = json.load(open(a.record))
        at = rec["elapsed"]["jvm_phases_at_s"]
        settle = sum(x["wall_s"] for x in rec["samples"] if "/settle" in x["out"])
        a.skip, a.until = at["setups"] + settle, at["measured"]

    event = "jdk.ObjectAllocationSample" if a.alloc else "jdk.ExecutionSample"
    every = list(samples(a.recording, event))
    if not every:
        sys.exit(f"no {event} events")
    first = min(t for t, _, _, _ in every)
    kept = [(frames, wt) for t, thread, frames, wt in every
            if thread.startswith(a.threads) and a.skip <= t - first <= a.until and frames]
    n = sum(wt for _, wt in kept)
    if not kept:
        sys.exit("no samples kept")
    key = first_own_frame if a.alloc else (lambda f: f[0])
    self_counts = collections.Counter()
    incl_counts = collections.Counter()
    for f, wt in kept:
        self_counts[key(f)] += wt
        for x in set(f):
            incl_counts[x] += wt
    if a.alloc:
        print(f"{len(kept)} allocation samples, {n / 2**20:.1f} MB, from threads "
              f"'{a.threads}*', {a.skip}-{a.until} s")
    else:
        print(f"{len(kept)} samples from threads '{a.threads}*', {a.skip}-{a.until} s")

    def row(c, label):
        amount = f"{c / 2**20:9.1f} MB" if a.alloc else f"{int(c):6d}"
        print(f"{100.0 * c / n:6.1f}%  {amount}  {label}")
    titles = ("first non-JDK frame", "inclusive") if a.alloc else ("self", "inclusive")
    for title, counts in zip(titles, (self_counts, incl_counts)):
        print(f"\n-- top {a.top} by {title} {'bytes' if a.alloc else 'samples'}")
        for frame, c in counts.most_common(a.top):
            row(c, frame)
    if a.match:
        print("\n-- matches")
    for m in a.match:
        caller, _, callee = m.rpartition(">")

        def hit(frames):
            for i, f in enumerate(frames):
                if callee in f:
                    return not caller or any(caller in g for g in frames[i + 1:])
            return False
        row(sum(wt for f, wt in kept if hit(f)), m)
    if a.layers:
        counts = collections.Counter()
        for f, wt in kept:
            counts[layer_of(f)] += wt
        print("\n-- layers")
        for name in ["row path"] + [x for x, _ in LAYERS] + ["rest"]:
            row(counts[name], name)

if __name__ == "__main__":
    main()
