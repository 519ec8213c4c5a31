"""Output checks, run after the JVM has exited (outside every timed span).

Each imaging check returns a list of problems; an empty list means the
output passed. Registry cells are compared with their DuckDB oracles.
`digest` reduces one output to an order-insensitive fingerprint:
every value rounded to 6 significant digits (the rule `graft.rel.Digest`
applies), rows sorted, then hashed.
"""
import glob
import hashlib
import os

import duckdb
import json
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import yaml

import h5

INTENSITY_PROPS = ["mean", "median", "max", "min", "std", "mad", "lower_quartile",
                   "upper_quartile", "sum", "skewness", "kurtosis"]
INTENSITY_VIEWS = ["", "bgcorr_", "edge_", "bgcorr_edge_", "combined_",
                   "combined_bgcorr_", "combined_edge_", "combined_bgcorr_edge_"]
SHAPE_PROPS = 59
TEXTURE_PER_VIEW = 6 * 2 * 2 + 4  # GLCM props x {mean,std} x 2 distances + sobel
BOUNDED = ["mean", "median", "max", "min", "lower_quartile", "upper_quartile"]


def _sig6(x):
    """(exponent, 6-digit mantissa) integer pair per value; NaN -> sentinel"""
    x = np.asarray(x, dtype=np.float64)
    nan = np.isnan(x)
    m = np.where(nan | (x == 0), 1.0, np.abs(x))
    e = np.floor(np.log10(m)).astype(np.int64)
    mant = np.round(np.where(nan, 0.0, x) / np.power(10.0, e - 5)).astype(np.int64)
    e = np.where(nan, np.int64(10**6), np.where(x == 0, 0, e))
    return e, mant


def _strhash(values):
    return np.array([int.from_bytes(hashlib.md5(("" if v is None else str(v)).encode())
                                    .digest()[:8], "little", signed=True) for v in values],
                    dtype=np.int64)


def digest(columns):
    """order-insensitive fingerprint of {name: values} (equal-length columns)"""
    parts = []
    for name in sorted(columns):
        v = columns[name]
        if isinstance(v, np.ndarray) and v.dtype.kind in "fiu":
            parts.extend(_sig6(v.astype(np.float64)))
        else:
            parts.append(_strhash(v))
    rows = np.ascontiguousarray(np.stack(parts, axis=1))
    order = np.lexsort(rows.T[::-1])
    h = hashlib.md5(",".join(sorted(columns)).encode())
    h.update(rows[order].tobytes())
    return h.hexdigest()


def _branch_types(config):
    """(channel names, {branch: feature types}) of a generated config"""
    with open(config) as f:
        cfg = yaml.safe_load(f)
    names = [m["name"] for m in cfg["mask"]["methods"]]
    return cfg["load"]["channel_names"], {n: cfg["feature_extraction"][n] for n in names}


def check_parquet(out, config, events):
    """zarr_reference: row count and column names match the config; the
    two identical circle branches agree byte for byte"""
    problems = []
    files = sorted(glob.glob(os.path.join(out, "features.*.parquet")))
    if not files:
        return ["no parquet output"], None
    t = pq.read_table(files)
    chans, branches = _branch_types(config)
    if t.num_rows != events:
        problems.append(f"{t.num_rows} rows for {events} input events")
    cols = set(t.column_names)
    expect = {"meta_path", "meta_idx", "meta_group", "meta_id"}
    expect |= {f"feat_raw_{p}_{c}" for p in INTENSITY_PROPS for c in chans}
    for b, types in branches.items():
        if "regions" in types:
            expect |= {f"meta_{b}_regions_{c}" for c in chans}
        if "bbox" in types:
            expect |= {f"meta_{b}_bbox_{k}" for k in ("minr", "minc", "maxr", "maxc")}
        if "intensity" in types:
            expect |= {f"feat_{b}_{v}{p}_{c}" for v in INTENSITY_VIEWS
                       for p in INTENSITY_PROPS for c in chans}
        n_feat = (SHAPE_PROPS * (1 + len(chans)) * ("shape" in types)
                  + len(INTENSITY_VIEWS) * len(INTENSITY_PROPS) * len(chans) * ("intensity" in types)
                  + 2 * TEXTURE_PER_VIEW * len(chans) * ("texture" in types))
        got = sum(1 for c in cols if c.startswith(f"feat_{b}_"))
        if got != n_feat:
            problems.append(f"branch {b}: {got} feature columns, config implies {n_feat}")
        if ("bbox" in types) != any(c.startswith(f"meta_{b}_bbox_") for c in cols):
            problems.append(f"branch {b}: bbox columns disagree with its feature types")
    missing = expect - cols
    if missing:
        problems.append(f"{len(missing)} expected columns missing, e.g. {sorted(missing)[:3]}")
    prefixes = {c.split("_")[1] for c in cols if c.startswith(("feat_", "meta_"))
                and c.count("_") >= 2} - {"path", "idx", "group", "id"}
    extra = prefixes - set(branches) - {"raw"}
    if extra:
        problems.append(f"unexpected column prefixes {sorted(extra)}")
    c1 = sorted(c for c in cols if "circle-1" in c)
    c2 = sorted(c for c in cols if "circle-2" in c)
    if [c.replace("circle-1", "circle-2") for c in c1] != c2:
        problems.append("circle-1 and circle-2 column sets differ")
    else:
        for a, b in zip(c1, c2):
            if not t.column(a).equals(t.column(b)):
                problems.append(f"{a} != {b}")
                break
    data = {}
    for name in t.column_names:
        col = t.column(name)
        if name in ("meta_path", "meta_group"):
            data[name] = col.to_pylist()
        else:
            data[name] = col.to_numpy(zero_copy_only=False).astype(np.float64)
    return problems, digest(data)


def check_h5ad(out, config, events):
    """tiff_segment_fullstack: every file's obs count equals its X rows,
    and the quantile-normalized intensities lie in [0, 1]"""
    problems = []
    files = sorted(glob.glob(os.path.join(out, "features.*.h5ad")))
    if not files:
        return ["no h5ad output"], None
    chans, branches = _branch_types(config)
    bounded = {f"feat_{b}_{p}_{c}" for b in list(branches) + ["raw"]
               for p in BOUNDED for c in chans}
    xs, numeric = [], {}
    var0 = None
    for f in files:
        x, var, obs = h5.read_anndata(f)
        if var0 is None:
            var0 = var
        elif var != var0:
            problems.append(f"{os.path.basename(f)}: var differs from the first file")
        if len(obs["_index"]) != x.shape[0]:
            problems.append(f"{os.path.basename(f)}: {len(obs['_index'])} obs for "
                            f"{x.shape[0]} rows")
        xs.append(x)
        for k, v in obs.items():
            if k != "_index":
                numeric.setdefault(k, []).append(v if isinstance(v, np.ndarray) else list(v))
    x = np.concatenate(xs)
    if x.shape[0] == 0:
        problems.append(f"no cells from {events} fields of view")
    idx = [i for i, n in enumerate(var0) if n in bounded]
    if len(idx) != len(bounded):
        problems.append(f"{len(bounded) - len(idx)} normalized intensity columns missing")
    vals = x[:, idx]
    vals = vals[~np.isnan(vals)]
    if vals.size == 0 or vals.min() < 0 or vals.max() > 1:
        problems.append(f"normalized intensities outside [0, 1]: "
                        f"{vals.min() if vals.size else None}..{vals.max() if vals.size else None}")
    data = {n: x[:, i] for i, n in enumerate(var0)}
    for k, parts in numeric.items():
        data[k] = (np.concatenate(parts) if isinstance(parts[0], np.ndarray)
                   else [s for p in parts for s in p])
    return problems, digest(data)


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def compare_cell(con, got_file, sql):
    """None if the cell's output equals its oracle's result, else the
    problem: same column names, no int-vs-float split between the two
    sides, same rows in any order, values exactly equal"""
    got = con.sql(f"SELECT * FROM '{got_file}'").df()
    exp = con.sql(sql).df()
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(exp.columns)}"
    cols = sorted(got.columns)
    g, e = got[cols], exp[cols]
    split = [c for c in cols if {g[c].dtype.kind, e[c].dtype.kind} in ({"i", "f"}, {"u", "f"})]
    if split:
        return f"integer on one side, floating on the other: {split}"
    if len(g) != len(e):
        return f"{len(g)} rows, oracle {len(e)}"
    g = g.sort_values(by=cols).reset_index(drop=True)
    e = e.sort_values(by=cols).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return "values differ: " + " ".join(str(ex).split())[:300]
    return None


def check_cells(out, tables_dir, cells):
    """registry: {cell: problem or None} for every cell, its output under
    `out/<cell>/` against the oracle SQL in `out/oracle_sql.json`"""
    try:
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = json.load(f)
    except OSError:
        oracle = {}
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    result = {}
    for cell in cells:
        files = glob.glob(os.path.join(out, cell, "*.parquet"))
        if not files:
            result[cell] = "no output"
        elif cell not in oracle:
            result[cell] = "no oracle"
        else:
            try:
                result[cell] = compare_cell(con, files[0], oracle[cell])
            except duckdb.Error as ex:
                result[cell] = f"oracle failed: {ex}"
    con.close()
    return result


CHECKS = {"zarr_reference": check_parquet, "tiff_segment_fullstack": check_h5ad}
