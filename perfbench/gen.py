"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is written here: a ragged Zarr v2
store (zlib chunks, the loader's documented (N, maxLen) <f4 layout with
per-record `shape` attributes) or per-channel TIFF fields of view, and the
workload's YAML config in the reference's own key shape; or, for the
registry, the ten relational tables of FIXTURES.md section 5 (one parquet
file each) at a given scale factor. The same seed always gives the same
bytes.

    python3 perfbench/gen.py OUT_DIR --seed N --workload NAME --events N
"""
import argparse
import json
import os
import struct
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZARR_CHUNK_ROWS = 32
TIFF_PLATES = 4

ZARR_CONFIG = """\
# scip_zarr.yml shape: two mask filters, four mask branches (plus the
# implicit raw branch), per-branch feature selection, parquet sink
load:
  format: zarr
  channels: [0, 1, 2]
  channel_names: [BF, PI, DAPI]
  kwargs:
    regex: ^.+/(?P<group>[^/]+)\\.zarr$
project: null
illumination_correction: null
segment: null
mask:
  main_channel_index: 0
  combined_indices: [0, 1, 2]
  filters:
    - method: normaltest
      channel_indices: [0]
    - method: std
      channel_indices: [1]
      settings:
        threshold: 2.0
  methods:
    - method: circle
      name: circle-1
    - method: circle
      name: circle-2
    - method: li
      name: li
      kwargs:
        smooth: [0.75, 0.75, 0.75]
    - method: spot
      name: spot
      kwargs:
        spotsize: 5
filter: null
normalization: null
feature_extraction:
  circle-1: [regions, bbox, shape, intensity, texture]
  circle-2: [regions, bbox, shape, intensity, texture]
  li: [regions, shape, intensity, texture]
  spot: [regions, bbox, shape, intensity, texture]
export:
  format: parquet
  filename: features
"""

TIFF_CONFIG = """\
# scip_tiff_seg.yml shape: per-channel TIFF fields of view, illumination
# correction keyed on the plate, watershed segmentation, an otsu branch
# (plus the implicit raw branch), population filter, quantile
# normalization, AnnData sink
load:
  format: tiff
  channels: [0, 1]
  channel_names: [DAPI, actin]
  kwargs:
    regex: ^.+/(?P<plate>plate[0-9]+)_fov(?P<id>[0-9]+)_ch(?P<channel>[0-9])\\.tif$
illumination_correction:
  method: jones_2006
  key: plate
  settings:
    median_filter_size: 11
segment:
  method: watershed_dapi
  settings:
    cell_diameter: 10
    parent_channel_index: 0
mask:
  main_channel_index: 0
  methods:
    - method: otsu
      name: otsu
filter:
  name: population
normalization:
  lower: 0
  upper: 1
feature_extraction:
  otsu: [regions, bbox, intensity]
export:
  format: anndata
  filename: features
"""


def blob(h, w, cy, cx, sigma, amp):
    yy, xx = np.mgrid[0:h, 0:w]
    return amp * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / (2.0 * sigma * sigma))


def zarr_event(rng):
    """one imaging-flow event: brightfield, PI and DAPI planes of a
    single cell, ragged around 48x48; a few are debris-only frames whose
    brightfield is pure noise (the normaltest filter tombstones them)"""
    h, w = (int(v) for v in rng.integers(44, 53, size=2))
    cy = h / 2 + rng.normal(0, 2)
    cx = w / 2 + rng.normal(0, 2)
    debris = rng.random() < 0.05
    radius = rng.uniform(4.0, 7.0)
    bf = 100.0 + rng.normal(0, 3.0, (h, w))
    pi = 10.0 + rng.normal(0, 1.0, (h, w))
    dapi = 10.0 + rng.normal(0, 1.0, (h, w))
    if not debris:
        bf -= blob(h, w, cy, cx, radius, rng.uniform(40, 70))
        dapi += blob(h, w, cy + rng.normal(0, 1), cx + rng.normal(0, 1),
                     radius * 0.5, rng.uniform(60, 120))
        if rng.random() < 0.5:  # dead cell: PI-positive
            pi += blob(h, w, cy, cx, radius * 0.6, rng.uniform(30, 90))
        for _ in range(int(rng.integers(0, 3))):  # DAPI-bright foci
            dapi += blob(h, w, cy + rng.normal(0, 3), cx + rng.normal(0, 3),
                         1.0, rng.uniform(40, 80))
    return np.stack([bf, pi, dapi]).astype("<f4")


def write_zarr(path, events):
    """(N, maxLen) <f4 zarr v2 array, zlib, zero-padded ragged rows"""
    os.makedirs(path, exist_ok=True)
    n = len(events)
    max_len = max(e.size for e in events)
    zarray = {"chunks": [ZARR_CHUNK_ROWS, max_len],
              "compressor": {"id": "zlib", "level": 5}, "dtype": "<f4",
              "fill_value": 0, "filters": None, "order": "C",
              "shape": [n, max_len], "zarr_format": 2}
    with open(os.path.join(path, ".zarray"), "w") as f:
        json.dump(zarray, f)
    with open(os.path.join(path, ".zattrs"), "w") as f:
        json.dump({"object_number": list(range(1000, 1000 + n)),
                   "shape": [list(e.shape) for e in events]}, f)
    for c in range(0, (n + ZARR_CHUNK_ROWS - 1) // ZARR_CHUNK_ROWS):
        block = np.zeros((ZARR_CHUNK_ROWS, max_len), dtype="<f4")
        for r, e in enumerate(events[c * ZARR_CHUNK_ROWS:(c + 1) * ZARR_CHUNK_ROWS]):
            block[r, :e.size] = e.ravel()
        with open(os.path.join(path, f"{c}.0"), "wb") as f:
            f.write(zlib.compress(block.tobytes(), 5))


def fov_planes(rng, plate, size=48):
    """one field of view: DAPI nuclei and actin bodies of a few cells,
    under a plate-specific illumination gradient"""
    yy, xx = np.mgrid[0:size, 0:size] / (size - 1.0)
    tilt = 1.0 + 0.3 * ((plate % 2) * yy + (plate // 2) * xx)
    dapi = 8.0 + rng.normal(0, 1.5, (size, size))
    actin = 12.0 + rng.normal(0, 2.0, (size, size))
    for _ in range(int(rng.integers(2, 6))):
        cy, cx = rng.uniform(6, size - 6, size=2)
        dapi += blob(size, size, cy, cx, rng.uniform(2.0, 3.0), rng.uniform(150, 260))
        actin += blob(size, size, cy + rng.normal(0, 1), cx + rng.normal(0, 1),
                      rng.uniform(3.5, 5.0), rng.uniform(60, 140))
    return [np.clip(p * tilt, 0, 65535).astype("<u2") for p in (dapi, actin)]


def write_tiff(path, plane):
    """baseline little-endian TIFF: one uncompressed 16-bit strip"""
    h, w = plane.shape
    data = plane.tobytes()
    tags = [(256, 3, w), (257, 3, h), (258, 3, 16), (259, 3, 1), (262, 3, 1),
            (273, 4, 8), (277, 3, 1), (278, 3, h), (279, 4, len(data)),
            (284, 3, 1)]
    ifd = struct.pack("<H", len(tags))
    for tag, typ, val in tags:
        ifd += struct.pack("<HHI", tag, typ, 1)
        ifd += struct.pack("<HH", val, 0) if typ == 3 else struct.pack("<I", val)
    ifd += struct.pack("<I", 0)
    with open(path, "wb") as f:
        f.write(b"II*\x00" + struct.pack("<I", 8 + len(data)) + data + ifd)


def write_tiffs(root, rng, n_fovs):
    """one directory of `plate{p}_fov{i}_ch{c}.tif` files; the plate is
    part of the file name, so the loader scans a single directory"""
    os.makedirs(root, exist_ok=True)
    for i in range(n_fovs):
        plate = i % TIFF_PLATES
        for ch, plane in enumerate(fov_planes(rng, plate)):
            write_tiff(os.path.join(root, f"plate{plate}_fov{i:05d}_ch{ch}.tif"), plane)
    return [root]


# relational tables in the FIXTURES.md section 5 schemas, with the value
# domains of the reference tables (uniform keys, TPC-H-like categories)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.14, 0.14])
WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector "
         "window").split()
EMBED_DIM = 64
DAY_US = 86_400_000_000


def _days(rng, n, first, last):
    """timestamps (us) at whole days between two ISO dates"""
    lo, hi = (np.datetime64(d, "D").astype(np.int64) for d in (first, last))
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    pa.string())


def relational_tables(rng, sf):
    """name -> pyarrow table; row counts scale like the reference tables
    (60000 lineitems at sf 0.01); documents, embeddings and events stay
    small, as there"""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = (10_000 if sf >= 0.01 else 1000), 500, 500
    i32, i64 = pa.int32(), pa.int64()
    t = {"region": pa.table({"r_regionkey": pa.array(range(5), i32),
                             "r_name": pa.array(REGIONS)}),
         "nation": pa.table({"n_nationkey": pa.array(range(25), i32),
                             "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                             "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})}
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = start + np.cumsum(rng.exponential(259e6, n_ev)).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.lognormal(3.5, 1.2, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64), "text": pa.array(texts),
        "lang": _pick(rng, LANGS[0], n_doc, LANGS[1]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(x) for x in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def write_tables(root, rng, sf):
    os.makedirs(root, exist_ok=True)
    for name, table in relational_tables(rng, sf).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"), compression="snappy")
    return [root]


def du(path):
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def generate(out, seed, workload, events):
    """write one workload's inputs and config under `out`; return the
    manifest (config, input paths, event count, bytes on disk), which is
    also written next to the inputs. For the registry, `events` is the
    scale factor and there is no config."""
    os.makedirs(out, exist_ok=True)
    if workload == "registry_sf0.01":
        # named like the reference's table directories: cells that keep
        # derived tables name them after this directory
        paths = write_tables(os.path.join(out, f"sf{events}"), np.random.default_rng([seed, 3]),
                             events)
        manifest = {"workload": workload, "seed": seed, "config": None, "paths": paths,
                    "events": events, "bytes": du(paths[0])}
        with open(os.path.join(out, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        return manifest
    if workload == "zarr_reference":
        rng = np.random.default_rng([seed, 1])
        paths = [os.path.join(out, "zarr", "sample.zarr")]
        write_zarr(paths[0], [zarr_event(rng) for _ in range(events)])
        config_text = ZARR_CONFIG
    elif workload == "tiff_segment_fullstack":
        paths = write_tiffs(os.path.join(out, "tiff"), np.random.default_rng([seed, 2]), events)
        config_text = TIFF_CONFIG
    else:
        raise ValueError(f"unknown workload {workload}")
    config = os.path.join(out, f"{workload}.yml")
    with open(config, "w") as f:
        f.write(config_text)
    manifest = {"workload": workload, "seed": seed, "config": config, "paths": paths,
                "events": events, "bytes": sum(du(p) for p in paths)}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--events", type=float, required=True,
                    help="events or fields of view; the scale factor for the registry")
    a = ap.parse_args(argv)
    events = a.events if a.workload == "registry_sf0.01" else int(a.events)
    print(json.dumps(generate(os.path.abspath(a.out), a.seed, a.workload, events)))


if __name__ == "__main__":
    main(sys.argv[1:])
