"""Seeded benchmark inputs, built without any of the program's code.

Three kinds of input, each cached under the checkout's
`.perfbench/inputs/` directory by seed and by a hash of this file and of
the fixture the input is made from, so an edit to either builds afresh:

  ms    a synthetic Measurement Set (parquet tables) laid out like the
        committed `fixtures/ms`: 64 antennas with autocorrelations, two
        DDIDs (16 ch x 4 corr, 32 ch x 2 corr), FIELD/SCAN flip half way,
        visibilities on a 1/1000 grid, weights on a 1/100 grid, ~30 % of
        samples flagged, 1/37 of rows fully flagged, FLAG_ROW drawn
        independently of FLAG, rows TIME-sorted within each
        (FIELD, DDID, SCAN) file, ~2 MB row groups.
  docs  `fixtures/sf1/documents.parquet` with doc_id relabeled by a seeded
        permutation of its own values (texts, and so the exact and near
        duplicate structure, are unchanged).
  events `fixtures/sf1/events.parquet` with user_id relabeled the same way
        (per-user event sequences, and so the sessions, are unchanged).

Run directly to build one input: `python3 perfbench/gen.py ms 7`.
"""
import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ANT = 64
N_TIME = 24                 # 6x the committed fixture's 4 integrations
TIME0 = 5000000.0
DT = 30000.0
DDIDS = [(0, 16, 4), (1, 32, 2)]   # (ddid, nchan, ncorr)
FREQ0 = 856e6
TOTAL_BW = 856e6
ROW_GROUP_BYTES = 2 * 1024 * 1024
KEEP_INPUTS = 6             # cached inputs kept per kind (oldest evicted)


def _nn(name, typ):
    return pa.field(name, typ, nullable=False)


def _list(typ, nullable=False):
    return pa.list_(pa.field("element", typ, nullable=nullable))


CPX = pa.struct([pa.field("re", pa.float32()), pa.field("im", pa.float32())])
MAIN_SCHEMA = pa.schema([
    _nn("TIME", pa.float64()), _nn("INTERVAL", pa.float64()),
    _nn("TIME_CENTROID", pa.float64()), _nn("EXPOSURE", pa.float64()),
    _nn("ANTENNA1", pa.int32()), _nn("ANTENNA2", pa.int32()),
    _nn("FIELD_ID", pa.int32()), _nn("DATA_DESC_ID", pa.int32()),
    _nn("SCAN_NUMBER", pa.int32()), _nn("ARRAY_ID", pa.int32()),
    _nn("OBSERVATION_ID", pa.int32()), _nn("PROCESSOR_ID", pa.int32()),
    _nn("STATE_ID", pa.int32()),
    _nn("UVW", _list(pa.float64(), True)),
    _nn("WEIGHT", _list(pa.float64(), True)),
    _nn("SIGMA", _list(pa.float64(), True)),
    _nn("DATA", _list(_list(CPX))),
    _nn("CORRECTED_DATA", _list(_list(CPX))),
    _nn("FLAG", _list(_list(pa.bool_(), True))),
    pa.field("FLAG_ROW", pa.bool_()),
    _nn("WEIGHT_SPECTRUM", _list(_list(pa.float64(), True))),
    _nn("SIGMA_SPECTRUM", _list(_list(pa.float64(), True))),
])


def _offsets(n, width):
    return pa.array(np.arange(n + 1, dtype=np.int32) * width)


def _lists(values, n_rows, shape):
    """Nest a flat arrow array into list levels of fixed `shape`."""
    arr = values
    count = n_rows
    for w in shape:
        count *= w
    for w in reversed(shape):
        count //= w
        arr = pa.ListArray.from_arrays(_offsets(count, w), arr)
    return arr


def _grid(rng, size, mod, div, off=0):
    return (rng.integers(0, mod, size=size) + off) / div


def _vis(rng, n):
    re = _grid(rng, n, 1000, 1000.0).astype(np.float32)
    im = _grid(rng, n, 1000, 1000.0).astype(np.float32)
    return pa.StructArray.from_arrays([pa.array(re), pa.array(im)],
                                      fields=list(CPX))


def build_ms(root, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    a1, a2 = np.triu_indices(N_ANT)
    nbl = len(a1)
    # UVW is a per-(baseline, time) property shared by both DDIDs
    uvw = rng.integers(0, 10000, size=(N_TIME, nbl, 3)) / 100.0
    half = N_TIME // 2
    os.makedirs(f"{root}/main")
    rows = cells = cross_cells = 0
    for fs in (0, 1):
        times = np.arange(fs * half, (fs + 1) * half)
        for ddid, nchan, ncorr in DDIDS:
            n = len(times) * nbl
            t_idx = np.repeat(times, nbl)
            tv = TIME0 + t_idx * DT
            ant1 = np.tile(a1, len(times)).astype(np.int32)
            ant2 = np.tile(a2, len(times)).astype(np.int32)
            nc = n * nchan * ncorr
            full = rng.random(n) < 1.0 / 37.0
            flag = (rng.integers(0, 10, size=(n, nchan * ncorr)) < 3) | full[:, None]
            cols = {
                "TIME": tv, "INTERVAL": np.full(n, DT),
                "TIME_CENTROID": tv, "EXPOSURE": np.full(n, DT),
                "ANTENNA1": ant1, "ANTENNA2": ant2,
            }
            for c in ("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ARRAY_ID",
                      "OBSERVATION_ID", "PROCESSOR_ID", "STATE_ID"):
                v = {"FIELD_ID": fs, "SCAN_NUMBER": fs, "DATA_DESC_ID": ddid}.get(c, 0)
                cols[c] = np.full(n, v, dtype=np.int32)
            arrays = [pa.array(cols[f.name], type=f.type) for f in list(MAIN_SCHEMA)[:13]]
            arrays += [
                _lists(pa.array(uvw[times].reshape(-1)), n, [3]),
                _lists(pa.array(_grid(rng, n * ncorr, 100, 100.0, 1)), n, [ncorr]),
                _lists(pa.array(_grid(rng, n * ncorr, 100, 100.0, 1)), n, [ncorr]),
                _lists(_vis(rng, nc), n, [nchan, ncorr]),
                _lists(_vis(rng, nc), n, [nchan, ncorr]),
                _lists(pa.array(flag.reshape(-1)), n, [nchan, ncorr]),
                pa.array(rng.integers(0, 10, size=n) == 0),
                _lists(pa.array(_grid(rng, nc, 100, 100.0, 1)), n, [nchan, ncorr]),
                _lists(pa.array(_grid(rng, nc, 100, 100.0, 1)), n, [nchan, ncorr]),
            ]
            table = pa.Table.from_arrays(arrays, names=MAIN_SCHEMA.names).cast(MAIN_SCHEMA)
            per_row = max(1, table.nbytes // n)
            pq.write_table(table, f"{root}/main/part-f{fs}-d{ddid}-s{fs}.parquet",
                           row_group_size=max(1, ROW_GROUP_BYTES // per_row),
                           compression="snappy")
            rows += n
            cells += nc
            cross_cells += int((ant1 != ant2).sum()) * nchan * ncorr
    _subtables(root, rng)
    return {"rows": rows, "vis_cells": cells, "cross_vis_cells": cross_cells,
            "baselines": nbl, "times": N_TIME}


def _table(rows, schema):
    cols = {f.name: [r[i] for r in rows] for i, f in enumerate(schema)}
    return pa.Table.from_pydict(cols, schema=schema)


def _subtables(root, rng):
    f64l = _list(pa.float64())
    spw_rows = []
    for ddid, nchan, _ in DDIDS:
        cw = TOTAL_BW / nchan
        freqs = [FREQ0 + cw * (i + 0.5) for i in range(nchan)]
        spw_rows.append((ddid, nchan, freqs, [cw] * nchan, [cw] * nchan,
                         [cw] * nchan, freqs[nchan // 2], TOTAL_BW, 5))
    tables = {
        "SPECTRAL_WINDOW": _table(spw_rows, pa.schema([
            _nn("SPECTRAL_WINDOW_ID", pa.int32()), _nn("NUM_CHAN", pa.int32()),
            pa.field("CHAN_FREQ", f64l), pa.field("CHAN_WIDTH", f64l),
            pa.field("EFFECTIVE_BW", f64l), pa.field("RESOLUTION", f64l),
            _nn("REF_FREQUENCY", pa.float64()), _nn("TOTAL_BANDWIDTH", pa.float64()),
            _nn("MEAS_FREQ_REF", pa.int32())])),
        "POLARIZATION": _table(
            [(0, 4, [9, 10, 11, 12], [[0, 0], [0, 1], [1, 0], [1, 1]]),
             (1, 2, [9, 12], [[0, 0], [1, 1]])],
            pa.schema([_nn("POLARIZATION_ID", pa.int32()), _nn("NUM_CORR", pa.int32()),
                       pa.field("CORR_TYPE", _list(pa.int32())),
                       pa.field("CORR_PRODUCT", pa.list_(_list(pa.int32())))])),
        "DATA_DESCRIPTION": _table(
            [(d, d, d) for d, _, _ in DDIDS],
            pa.schema([_nn("DATA_DESC_ID", pa.int32()),
                       _nn("SPECTRAL_WINDOW_ID", pa.int32()),
                       _nn("POLARIZATION_ID", pa.int32())])),
    }
    rad = np.pi / 180.0
    dirs = [[[0.0, 60.0 * rad]], [[30.0 * rad, 45.0 * rad]]]
    tables["FIELD"] = _table(
        [(i, "3C147", 0, d, d, d) for i, d in enumerate(dirs)],
        pa.schema([_nn("FIELD_ID", pa.int32()), pa.field("NAME", pa.string()),
                   _nn("NUM_POLY", pa.int32()),
                   pa.field("PHASE_DIR", pa.list_(_list(pa.float64()))),
                   pa.field("REFERENCE_DIR", pa.list_(_list(pa.float64()))),
                   pa.field("DELAY_DIR", pa.list_(_list(pa.float64())))]))
    pos = rng.integers(0, 10000, size=(N_ANT, 3)).astype(np.float64)
    tables["ANTENNA"] = _table(
        [(a, f"ANT-{a}", pos[a].tolist(), [0.0, 0.0, 0.0]) for a in range(N_ANT)],
        pa.schema([_nn("ANTENNA_ID", pa.int32()), pa.field("NAME", pa.string()),
                   pa.field("POSITION", f64l), pa.field("OFFSET", f64l)]))
    for name, t in tables.items():
        os.makedirs(f"{root}/{name}")
        pq.write_table(t, f"{root}/{name}/part-00000.parquet")


def _relabel(src, dst, key, seed):
    """Rewrite `src` with column `key` mapped through a seeded permutation
    of its own distinct values."""
    t = pq.read_table(src)
    vals = t.column(key).to_numpy()
    uniq, inv = np.unique(vals, return_inverse=True)
    perm = np.random.Generator(np.random.PCG64(seed)).permutation(len(uniq))
    new = uniq[perm][inv]
    t = t.set_column(t.schema.get_field_index(key), key, pa.array(new, type=t.schema.field(key).type))
    pq.write_table(t, dst, compression="snappy")
    return {"rows": t.num_rows, "distinct_" + key: len(uniq)}


def build_docs(root, seed, repo):
    os.makedirs(root)
    return _relabel(f"{repo}/fixtures/sf1/documents.parquet",
                    f"{root}/documents.parquet", "doc_id", seed)


def build_events(root, seed, repo):
    os.makedirs(root)
    return _relabel(f"{repo}/fixtures/sf1/events.parquet",
                    f"{root}/events.parquet", "user_id", seed)


BUILDERS = {"ms": lambda root, seed, repo: build_ms(root, seed),
            "docs": build_docs, "events": build_events}
FIXTURES = {"docs": "fixtures/sf1/documents.parquet", "events": "fixtures/sf1/events.parquet"}


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _sources_hash(kind, repo):
    h = hashlib.sha256()
    for p in [os.path.abspath(__file__)] + ([f"{repo}/{FIXTURES[kind]}"] if kind in FIXTURES else []):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure(kind, seed, repo):
    """Path of the cached input (built on first use) and its manifest."""
    base = f"{repo}/.perfbench/inputs"
    root = f"{base}/{kind}-{seed}-{_sources_hash(kind, repo)}"
    manifest = f"{root}.json"
    if not os.path.exists(manifest):
        shutil.rmtree(root, ignore_errors=True)
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        info = BUILDERS[kind](tmp, seed, repo)
        info.update(kind=kind, seed=seed, bytes=dir_bytes(tmp),
                    build_s=round(time.time() - t0, 3))
        os.rename(tmp, root)
        with open(manifest, "w") as f:
            json.dump(info, f)
        _evict(base, kind)
    os.utime(manifest)
    with open(manifest) as f:
        return root, json.load(f)


def _evict(base, kind):
    ms = sorted((os.path.getmtime(os.path.join(base, m)), m)
                for m in os.listdir(base)
                if m.startswith(kind + "-") and m.endswith(".json"))
    for _, m in ms[:-KEEP_INPUTS]:
        os.remove(os.path.join(base, m))
        shutil.rmtree(os.path.join(base, m[:-5]), ignore_errors=True)


if __name__ == "__main__":
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(json.dumps(ensure(sys.argv[1], int(sys.argv[2]), repo)[1]))
