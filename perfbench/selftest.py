"""Shows that every output check fails on a deliberately corrupted output.

    python3 perfbench/selftest.py [--seed 1] [workload ...]

For each workload it runs one round, checks an unmodified rewrite of the
output (which must pass), then applies one corruption per check to a copy
of the output and confirms that the check it targets fails. Exits 1 if any
corruption goes unnoticed.
"""
import argparse
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import checks
import gen
import run

PART = ds.partitioning(pa.schema([("FIELD_ID", pa.int32()), ("DATA_DESC_ID", pa.int32()),
                                  ("SCAN_NUMBER", pa.int32())]), flavor="hive")
MATRIX = ["DATA", "FLAG", "WEIGHT_SPECTRUM", "SIGMA_SPECTRUM"]


# --- MS outputs ------------------------------------------------------------

def rewrite_main(out, fn):
    t = ds.dataset(f"{out}/main", format="parquet", partitioning=PART).to_table()
    t = fn(t)
    shutil.rmtree(f"{out}/main")
    keys = PART.schema.names
    cols = np.stack([t[k].to_numpy() for k in keys], axis=1)
    for group in dict.fromkeys(map(tuple, cols)):
        d = f"{out}/main/" + "/".join(f"{k}={v}" for k, v in zip(keys, group))
        os.makedirs(d)
        part = t.filter(pa.array((cols == group).all(axis=1)))
        pq.write_table(part.drop_columns(keys), f"{d}/part-0.parquet")


def with_flat(t, name, edit):
    """Replace column `name` (nested lists of numbers, or of complex
    structs, whose real parts are edited) after editing its innermost
    values array in place."""
    arr = t[name].combine_chunks()
    levels = [arr]
    while pa.types.is_list(levels[-1].type):
        levels.append(levels[-1].values)
    inner = levels[-1]
    cpx = pa.types.is_struct(inner.type)
    vals = (inner.field(0) if cpx else inner).to_numpy(zero_copy_only=False).copy()
    edit(vals)
    new = pa.array(vals)
    if cpx:
        new = pa.StructArray.from_arrays([new, inner.field(1)], fields=list(inner.type))
    for lv in reversed(levels[:-1]):
        new = pa.ListArray.from_arrays(lv.offsets, new)
    return t.set_column(t.schema.get_field_index(name), name, new)


def swap_ddid_spw(out):
    p = f"{out}/DATA_DESCRIPTION"
    t = pq.read_table(p)
    spw = t["SPECTRAL_WINDOW_ID"].to_numpy().copy()
    nchan = dict(duckdb.sql(f"SELECT SPECTRAL_WINDOW_ID, NUM_CHAN FROM read_parquet('{out}/SPECTRAL_WINDOW/*.parquet')").fetchall())
    i = 0
    j = next(k for k in range(len(spw)) if nchan[spw[k]] != nchan[spw[i]])
    spw[i], spw[j] = spw[j], spw[i]
    shutil.rmtree(p)
    os.makedirs(p)
    pq.write_table(t.set_column(1, "SPECTRAL_WINDOW_ID", pa.array(spw, pa.int32())), f"{p}/part-0.parquet")


def swap_time(t):
    key = np.stack([t[c].to_numpy() for c in ("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER",
                                              "ANTENNA1", "ANTENNA2")], axis=1)
    first = key[0]
    same = np.flatnonzero((key == first).all(axis=1))
    tm = t["TIME"].to_numpy().copy()
    j = next(k for k in same if tm[k] != tm[0])
    tm[0], tm[j] = tm[j], tm[0]
    return t.set_column(t.schema.get_field_index("TIME"), "TIME", pa.array(tm))


def slice_rows(t, mask, nchan, ddid=None):
    m = pa.array(mask)
    for c in MATRIX:
        col = t[c].combine_chunks()
        t = t.set_column(t.schema.get_field_index(c), c,
                         pc.if_else(m, pc.list_slice(col, 0, nchan), col))
    if ddid is not None:
        d = t["DATA_DESC_ID"].to_numpy().copy()
        d[mask] = ddid
        t = t.set_column(t.schema.get_field_index("DATA_DESC_ID"), "DATA_DESC_ID",
                         pa.array(d, pa.int32()))
    return t


def coarsen_full_resolution(out):
    """Move one baseline's full-resolution rows to the half-width
    channelisation of the same polarization (breaks the sinc bound)."""
    dd = duckdb.sql(f"""SELECT d.DATA_DESC_ID, d.POLARIZATION_ID, s.NUM_CHAN
        FROM read_parquet('{out}/DATA_DESCRIPTION/*.parquet') d
        JOIN read_parquet('{out}/SPECTRAL_WINDOW/*.parquet') s USING (SPECTRAL_WINDOW_ID)""").fetchall()
    full = max(dd, key=lambda r: r[2])
    half = next(r for r in dd if r[1] == full[1] and r[2] * 2 == full[2])

    def fn(t):
        d = t["DATA_DESC_ID"].to_numpy()
        a1, a2 = t["ANTENNA1"].to_numpy(), t["ANTENNA2"].to_numpy()
        i = int(np.flatnonzero(d == full[0])[0])
        mask = (d == full[0]) & (a1 == a1[i]) & (a2 == a2[i])
        return slice_rows(t, mask, half[2], half[0])
    rewrite_main(out, fn)


def first_row_only(n):
    def fn(t):
        mask = np.zeros(t.num_rows, dtype=bool)
        mask[0] = True
        return slice_rows(t, mask, n)
    return fn


def bump_first(vals, by):
    vals[0] += by


def scale_first_uvw(vals):
    vals[:3] *= 1.01


MS_CORRUPTIONS = [
    ("ms.shape_conforms", swap_ddid_spw),
    ("ms.rows_per_group", lambda o: rewrite_main(o, lambda t: t.slice(0, t.num_rows - 1))),
    ("ms.weight_sum", lambda o: rewrite_main(
        o, lambda t: with_flat(t, "WEIGHT_SPECTRUM", lambda v: bump_first(v, 0.01)))),
    ("ms.data_weighted_sum", lambda o: rewrite_main(
        o, lambda t: with_flat(t, "DATA", lambda v: bump_first(v, 0.01)))),
    ("ms.sigma_weighted_sum", lambda o: rewrite_main(
        o, lambda t: with_flat(t, "SIGMA_SPECTRUM", lambda v: bump_first(v, 0.01)))),
    ("ms.sigma_weighted_sum (column dropped)",
     lambda o: rewrite_main(o, lambda t: t.drop_columns(["SIGMA_SPECTRUM"]))),
    ("ms.fixms_uvw_length", lambda o: rewrite_main(o, lambda t: with_flat(t, "UVW", scale_first_uvw))),
    ("ms.time_order", lambda o: rewrite_main(o, swap_time)),
]
BDA_CORRUPTIONS = [
    ("bda.nchan_divides", lambda o: rewrite_main(o, first_row_only(5))),
    ("bda.sinc_bound", coarsen_full_resolution),
]


# --- curation and stream outputs --------------------------------------------

def append_doc(docs_root, pick_sql):
    """Corruption adding a chunk row for each (doc_id, source) `pick_sql`
    selects."""
    def fn(out):
        t = pq.read_table(out)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{docs_root}/documents.parquet')")
        picked = con.sql(pick_sql).fetchall()
        assert picked, "no document to corrupt with"
        rows = {c: [t[c][0].as_py()] * len(picked) for c in t.column_names}
        rows.update(doc_id=[d for d, _ in picked], source=[s for _, s in picked],
                    chunk_idx=[0] * len(picked))
        write_single(out, pa.concat_tables([t, pa.table(rows, schema=t.schema)]))
    return fn


def write_single(out, t):
    shutil.rmtree(out)
    os.makedirs(out)
    pq.write_table(t, f"{out}/part-0.parquet")


def over_budget(out):
    t = pq.read_table(out)
    src = t["source"].to_numpy(zero_copy_only=False)
    cum = t["cum_before"].to_numpy().copy()
    i = int(np.argmax(cum))
    cum[src == src[i]] += checks.BUDGETS.get(src[i], checks.DEFAULT_BUDGET)
    write_single(out, t.set_column(t.schema.get_field_index("cum_before"), "cum_before",
                                   pa.array(cum, t.schema.field("cum_before").type)))


def drop_rows(pick):
    """Corruption deleting the chunk rows `pick(table)` marks."""
    def fn(out):
        t = pq.read_table(out)
        write_single(out, t.filter(pa.array(~pick(t))))
    return fn


def last_admitted(t):
    """The rows of the last document admitted to the first source."""
    src = t["source"].to_numpy(zero_copy_only=False)
    cum = t["cum_before"].to_numpy()
    mine = src == src[0]
    return mine & (cum == cum[mine].max())


def last_chunk(t):
    """The last chunk of the first document that has more than one."""
    doc, idx = t["doc_id"].to_numpy(), t["chunk_idx"].to_numpy()
    i = int(np.flatnonzero(idx > 0)[0])
    return (doc == doc[i]) & (idx == idx[doc == doc[i]].max())


def curation_corruptions(docs):
    toks = "string_split(text, ' ')"
    return [
        ("curation.quality", append_doc(docs, f"""SELECT doc_id, source FROM docs
            WHERE doc_id % 37 <> 0 AND len({toks}) < {checks.MIN_TOKENS} LIMIT 1""")),
        ("curation.decontaminated", append_doc(docs, f"""
            WITH g AS (SELECT doc_id, source, unnest(list_transform(range(1, len({toks}) - 2),
                         i -> array_to_string(list_slice({toks}, i, i + 3), ' '))) AS g FROM docs)
            SELECT doc_id, source FROM g WHERE doc_id % 37 <> 0
              AND g IN (SELECT g FROM g WHERE doc_id % 37 = 0) LIMIT 1""")),
        ("curation.no_exact_dups", append_doc(docs, """
            WITH dup AS (SELECT text FROM docs WHERE doc_id % 37 <> 0
                         GROUP BY text HAVING count(*) > 1 ORDER BY text LIMIT 1)
            SELECT doc_id, source FROM docs WHERE doc_id % 37 <> 0
              AND text = (SELECT text FROM dup) ORDER BY doc_id LIMIT 2""")),
        ("curation.token_budget", over_budget),
        ("curation.budget_filled", drop_rows(last_admitted)),
        ("curation.budget_filled (empty output)",
         drop_rows(lambda t: np.ones(t.num_rows, dtype=bool))),
        ("curation.chunks", drop_rows(last_chunk)),
    ]


def extra_event(out):
    t = pq.read_table(out)
    n = t["n_events"].to_numpy().copy()
    n[0] += 1
    write_single(out, t.set_column(t.schema.get_field_index("n_events"), "n_events",
                                   pa.array(n, t.schema.field("n_events").type)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*",
                    default=["ms_bda", "ms_timechannel", "curation_sf1", "stream_sessions"])
    a = ap.parse_args()
    b = run.build()
    cores = os.cpu_count() or 4
    missed = 0
    for w in a.workloads:
        kind, _, _, out_of, check = run.WORKLOADS[w]
        inp, manifest = gen.ensure(kind, a.seed, run.REPO)
        r = run.one_round(b, w, inp, manifest, cores, False)
        if r["failures"]:
            print(f"{w}: the clean run fails its checks: {r['failures']}")
            return 1
        clean = out_of(f"{run.WORK}/runs/{w}")
        base = f"{run.WORK}/selftest/{w}"
        if kind == "ms":
            cases = [("(unmodified rewrite)", lambda o: rewrite_main(o, lambda t: t))]
            cases += MS_CORRUPTIONS + (BDA_CORRUPTIONS if w == "ms_bda" else [])
        elif kind == "docs":
            cases = [("(unmodified rewrite)", lambda o: write_single(o, pq.read_table(o)))]
            cases += curation_corruptions(inp)
        else:
            cases = [("(unmodified rewrite)", lambda o: write_single(o, pq.read_table(o))),
                     ("stream.sessions_equal", extra_event)]
        for target, corrupt in cases:
            shutil.rmtree(base, ignore_errors=True)
            shutil.copytree(clean, base)
            corrupt(base)
            results = {name: ok for name, ok, _ in check(inp, base)}
            if target.startswith("("):
                good = all(results.values())
                verdict = "all checks pass" if good else f"FAILED {results}"
            else:
                good = results.get(target.split()[0]) is False
                verdict = "detected" if good else "NOT DETECTED"
            missed += not good
            print(f"{w:16s} {target:40s} {verdict}", flush=True)
    shutil.rmtree(f"{run.WORK}/selftest", ignore_errors=True)
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
