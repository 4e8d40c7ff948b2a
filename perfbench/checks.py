"""Output checks, computed apart from the program (DuckDB and numpy only).

Each check returns a list of (name, ok, detail). A run's operation fails
when any check of its output fails.
"""
import math

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

SPEED_OF_LIGHT = 299792458.0
EARTH_OMEGA = 7.2921158553e-5

# Curation rules (pl_p3_full_curation): quality gate, held-out slice,
# per-source token budgets.
MIN_TOKENS, MAX_TOKENS = 20, 95
MIN_DISTINCT_RATIO, MAX_STOP_RATIO = 0.45, 0.25
STOPWORDS = ("the", "a")
HELD_OUT_MOD = 37
BUDGETS = {"src1": 2000, "src3": 400}
DEFAULT_BUDGET = 1000
CHUNK_SIZE, CHUNK_STRIDE = 32, 24
SESSION_GAP_US = 14400 * 1000000


def _glob(root):
    return f"{root}/**/*.parquet"


def _tbl(root, name):
    return f"read_parquet('{root}/{name}/*.parquet')"


def _main(root):
    return f"read_parquet('{_glob(root + '/main')}', hive_partitioning=1, filename=1, file_row_number=1)"


def _flat(col, n, *shape):
    """A fixed-shape nested list column as an int/float/bool ndarray."""
    v = col
    for _ in shape:
        v = pc.list_flatten(v)
    return v.to_numpy(zero_copy_only=False).reshape((n,) + shape)


def _sinc_inv(target):
    lo, hi = 1e-12, math.pi
    for _ in range(200):
        mid = (lo + hi) / 2
        if (1.0 if mid == 0 else math.sin(mid) / mid) > target:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


def _largest_divisor(nchan, ok):
    return max(d for d in range(1, nchan + 1)
               if nchan % d == 0 and (d == 1 or ok(d)))


def bin_params(mode, p, bl_max, dt_min, nchan, cw0, freq_max):
    """Per-(group, baseline) time-bin seconds and channel-bin size, by the
    rules of `xova timechannel` / `xova bda`."""
    n = len(bl_max)
    if mode == "timechannel":
        return np.full(n, p["time_bin"]), np.full(n, p["chan_bin"], dtype=np.int64), None
    x = _sinc_inv(math.sqrt(p["decorrelation"]))
    sin_fov = math.sin(math.radians(p["fov"]))
    with np.errstate(divide="ignore"):
        dt_raw = np.where(bl_max == 0, np.finfo(float).max,
                          x * (SPEED_OF_LIGHT / freq_max) /
                          ((math.pi * EARTH_OMEGA * sin_fov) * bl_max))
        dnu_max = np.where(bl_max == 0, np.finfo(float).max,
                           (x * SPEED_OF_LIGHT / (math.pi * sin_fov)) / bl_max)
    tbs = np.maximum(np.minimum(dt_raw, p["time_cap"]), dt_min)
    cb = np.array([_largest_divisor(int(nc), lambda d: d * w <= dm and nc // d >= p["min_nchan"])
                   for nc, w, dm in zip(nchan, cw0, dnu_max)], dtype=np.int64)
    return tbs, cb, dnu_max


def check_ms(in_root, out_root, mode, params):
    con = duckdb.connect()
    res = []

    def add(name, bad, detail=""):
        res.append((name, bad == 0, f"{bad} violation(s) {detail}".strip()))

    # --- input: cross-correlation rows with per-baseline bin parameters ---
    spw = con.sql(f"""SELECT d.DATA_DESC_ID, d.POLARIZATION_ID, s.NUM_CHAN,
                             s.CHAN_WIDTH[1] AS CW0, list_max(s.CHAN_FREQ) AS FMAX
                      FROM {_tbl(in_root, 'DATA_DESCRIPTION')} d
                      JOIN {_tbl(in_root, 'SPECTRAL_WINDOW')} s USING (SPECTRAL_WINDOW_ID)
                      ORDER BY 1""").fetchall()
    in_ddid = {r[0]: r[1:] for r in spw}
    t = ds.dataset(f"{in_root}/main", format="parquet").to_table(
        columns=["FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2",
                 "TIME", "INTERVAL", "UVW", "FLAG", "WEIGHT_SPECTRUM",
                 "SIGMA_SPECTRUM", "CORRECTED_DATA"])
    t = t.filter(pc.not_equal(t["ANTENNA1"], t["ANTENNA2"]))
    expected_ws = {}
    bins = []
    bound_rows = []
    expected_vis = []
    for ddid, (pol, nchan, cw0, fmax) in in_ddid.items():
        s = t.filter(pc.equal(t["DATA_DESC_ID"], ddid))
        n = s.num_rows
        if n == 0:
            continue
        f, sc = s["FIELD_ID"].to_numpy(), s["SCAN_NUMBER"].to_numpy()
        a1, a2 = s["ANTENNA1"].to_numpy(), s["ANTENNA2"].to_numpy()
        tm, iv = s["TIME"].to_numpy(), s["INTERVAL"].to_numpy()
        uvw = _flat(s["UVW"].combine_chunks(), n, 3)
        bl = np.sqrt(uvw[:, 0] * uvw[:, 0] + uvw[:, 1] * uvw[:, 1] + uvw[:, 2] * uvw[:, 2])
        bkey = np.stack([f, sc, a1, a2], axis=1)
        ukeys, binv = np.unique(bkey, axis=0, return_inverse=True)
        binv = binv.reshape(-1)
        nb = len(ukeys)
        bl_max = np.full(nb, -np.inf)
        np.maximum.at(bl_max, binv, bl)
        dt_min = np.full(nb, np.inf)
        np.minimum.at(dt_min, binv, iv)
        tbs, cb, dnu = bin_params(mode, params, bl_max, dt_min,
                                  np.full(nb, nchan), np.full(nb, cw0), np.full(nb, fmax))
        # group t0 over (FIELD, DDID, SCAN)
        gkey = f.astype(np.int64) * 1000003 + sc
        t0 = {g: tm[gkey == g].min() for g in np.unique(gkey)}
        t0row = np.array([t0[g] for g in gkey]) if len(t0) > 1 else np.full(n, tm.min())
        b = np.floor((tm - t0row) / tbs[binv]).astype(np.int64)
        rcb = cb[binv]
        nco = nchan // rcb
        bins.append(pd.DataFrame({"FIELD_ID": f, "SCAN_NUMBER": sc, "POL": pol, "NCHAN": nco,
                                  "ANTENNA1": a1, "ANTENNA2": a2, "BIN": b}))
        if dnu is not None:
            bound_rows.append(pd.DataFrame({
                "FIELD_ID": ukeys[:, 0], "SCAN_NUMBER": ukeys[:, 1], "POL": pol,
                "ANTENNA1": ukeys[:, 2], "ANTENNA2": ukeys[:, 3], "DNU_MAX": dnu,
                "CW0": cw0, "NCHAN_IN": nchan}))
        # Per output cell the kernel sums over the unflagged samples when
        # the cell has any, else over all of them: WEIGHT_SPECTRUM = Σw,
        # DATA = Σw·v / Σw (v from CORRECTED_DATA), SIGMA_SPECTRUM =
        # sqrt(Σw²σ²) / Σw. Weights are summed x100 as integers (exact on
        # the 1/100 grid); Σw·v and Σw²σ² are summed per (baseline,
        # output channel, corr) over the baseline's time bins.
        wsf = _flat(s["WEIGHT_SPECTRUM"].combine_chunks(), n, nchan, -1)
        ncorr = wsf.shape[2]
        ws = np.rint(wsf * 100).astype(np.int64)
        good = ~_flat(s["FLAG"].combine_chunks(), n, nchan, ncorr)
        vis = pc.list_flatten(pc.list_flatten(s["CORRECTED_DATA"].combine_chunks()))
        wv = {part: wsf * pc.struct_field(vis, part).to_numpy(zero_copy_only=False)
              .astype(np.float64).reshape(n, nchan, ncorr) for part in ("re", "im")}
        wv["sig2"] = (wsf * _flat(s["SIGMA_SPECTRUM"].combine_chunks(), n, nchan, ncorr)) ** 2
        okey = np.stack([f, sc, a1, a2, b], axis=1)
        _, oinv = np.unique(okey, axis=0, return_inverse=True)
        oinv = oinv.reshape(-1)
        total = 0
        for c in np.unique(rcb):
            r = rcb == c
            m, k = int(r.sum()), nchan // c
            shp = (m, k, int(c), ncorr)
            kc = k * ncorr

            def cell_sum(x, mask=True):
                return (x[r] * mask).reshape(shp).sum(axis=2).reshape(m, -1)
            _, rid = np.unique(oinv[r], return_inverse=True)
            rid = rid.reshape(-1)
            nr = rid.max() + 1
            idx = (rid[:, None] * kc + np.arange(kc)[None, :]).reshape(-1)

            def per_cell(x):
                return np.bincount(idx, weights=x.reshape(-1), minlength=nr * kc)
            eff = per_cell(cell_sum(good.astype(np.int64))) > 0

            def chosen(x):
                return np.where(eff, per_cell(cell_sum(x, good[r])), per_cell(cell_sum(x)))
            total += int(np.rint(chosen(ws).sum()))
            # output row -> baseline, then sum each cell over the baseline's rows
            row_bl = np.empty(nr, dtype=np.int64)
            row_bl[rid] = binv[r]
            bls = np.unique(row_bl)
            _, bpos = np.unique(row_bl, return_inverse=True)
            bidx = (bpos.reshape(-1)[:, None] * kc + np.arange(kc)[None, :]).reshape(-1)
            frame = {"FIELD_ID": np.repeat(ukeys[bls, 0], kc),
                     "SCAN_NUMBER": np.repeat(ukeys[bls, 1], kc), "POL": pol,
                     "ANTENNA1": np.repeat(ukeys[bls, 2], kc),
                     "ANTENNA2": np.repeat(ukeys[bls, 3], kc),
                     "POS": np.tile(np.arange(kc), len(bls))}
            for part, x in wv.items():
                frame[part] = np.bincount(bidx, weights=chosen(x), minlength=len(bls) * kc)
            expected_vis.append(pd.DataFrame(frame))
        expected_ws[pol] = expected_ws.get(pol, 0) + total

    con.register("bins", pd.concat(bins))
    con.sql("""CREATE TABLE want AS SELECT FIELD_ID, SCAN_NUMBER, POL, NCHAN,
                 count(DISTINCT (ANTENNA1, ANTENNA2, BIN)) AS n FROM bins GROUP BY ALL""")

    # --- output ------------------------------------------------------------
    out_dd = f"""(SELECT d.DATA_DESC_ID, d.POLARIZATION_ID, s.NUM_CHAN, p.NUM_CORR
                  FROM {_tbl(out_root, 'DATA_DESCRIPTION')} d
                  JOIN {_tbl(out_root, 'SPECTRAL_WINDOW')} s USING (SPECTRAL_WINDOW_ID)
                  JOIN {_tbl(out_root, 'POLARIZATION')} p USING (POLARIZATION_ID))"""
    con.sql(f"""CREATE TABLE om AS SELECT m.FIELD_ID, m.SCAN_NUMBER, m.DATA_DESC_ID,
                   m.ANTENNA1, m.ANTENNA2, m.TIME, m.UVW, filename, file_row_number,
                   len(m.DATA) AS nch,
                   list_distinct(list_transform(m.DATA, x -> len(x))) AS ncos,
                   list_distinct(list_transform(m.FLAG, x -> len(x))) AS nfl,
                   len(m.FLAG) AS nchf, len(m.WEIGHT_SPECTRUM) AS nchw,
                   list_distinct(list_transform(m.WEIGHT_SPECTRUM, x -> len(x))) AS nws,
                   list_sum(list_transform(m.WEIGHT_SPECTRUM,
                     x -> list_sum(list_transform(x, w -> CAST(round(w * 100) AS BIGINT))))) AS ws100,
                   dd.POLARIZATION_ID AS POL, dd.NUM_CHAN, dd.NUM_CORR
                FROM {_main(out_root)} m LEFT JOIN {out_dd} dd USING (DATA_DESC_ID)""")

    add("ms.shape_conforms", con.sql("""SELECT count(*) FROM om WHERE NUM_CHAN IS NULL
        OR nch <> NUM_CHAN OR nchf <> NUM_CHAN OR nchw <> NUM_CHAN
        OR ncos <> [NUM_CORR] OR nfl <> [NUM_CORR] OR nws <> [NUM_CORR]""").fetchone()[0])

    bad = con.sql("""SELECT count(*) FROM
        (SELECT FIELD_ID, SCAN_NUMBER, POL, nch AS NCHAN, count(*) AS n FROM om GROUP BY ALL) g
        FULL JOIN want w USING (FIELD_ID, SCAN_NUMBER, POL, NCHAN)
        WHERE g.n IS DISTINCT FROM w.n""").fetchone()[0]
    add("ms.rows_per_group", bad, "(FIELD, DDID, SCAN) groups off the distinct (baseline, bin) count")

    got = dict(con.sql("SELECT POL, sum(ws100) FROM om GROUP BY POL").fetchall())
    bad = sum(1 for k in set(got) | set(expected_ws) if got.get(k) != expected_ws.get(k))
    add("ms.weight_sum", bad, f"per-DDID sums x100 got={got} want={expected_ws}")

    try:
        con.register("want_vis", pd.concat(expected_vis))
        con.register("got_vis", _out_vis(out_root, con.sql(
            f"SELECT DATA_DESC_ID, POLARIZATION_ID, NUM_CORR FROM {out_dd}").fetchall()))
        for name, parts, rtol in (("ms.data_weighted_sum", ("re", "im"), 1e-6),
                                  ("ms.sigma_weighted_sum", ("sig2",), 1e-9)):
            off = " OR ".join(f"g.{x} IS NULL OR w.{x} IS NULL OR abs(g.{x} - w.{x}) > "
                              f"{rtol} * (abs(w.{x}) + 1)" for x in parts)
            add(name, con.sql(f"""SELECT count(*) FROM got_vis g FULL JOIN want_vis w
                USING (FIELD_ID, SCAN_NUMBER, POL, ANTENNA1, ANTENNA2, POS)
                WHERE {off}""").fetchone()[0],
                "(baseline, channel, corr) sums off the input's")
    except (KeyError, ValueError, pa.ArrowException) as e:
        add("ms.data_weighted_sum", 1, repr(e))
        add("ms.sigma_weighted_sum", 1, repr(e))

    bad = con.sql(f"""SELECT count(*) FROM om
        JOIN {_tbl(out_root, 'ANTENNA')} p1 ON p1.ANTENNA_ID = om.ANTENNA1
        JOIN {_tbl(out_root, 'ANTENNA')} p2 ON p2.ANTENNA_ID = om.ANTENNA2
        WHERE abs(sqrt(UVW[1]*UVW[1] + UVW[2]*UVW[2] + UVW[3]*UVW[3]) -
                  sqrt(list_sum(list_transform(range(1, 4),
                       i -> (p1.POSITION[i] - p2.POSITION[i]) ^ 2))))
              > 1e-6 * greatest(1.0, sqrt(UVW[1]*UVW[1] + UVW[2]*UVW[2] + UVW[3]*UVW[3]))"""
                  ).fetchone()[0]
    add("ms.fixms_uvw_length", bad)

    add("ms.time_order", con.sql("""SELECT count(*) FROM (
        SELECT TIME, lag(TIME) OVER (PARTITION BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER,
               ANTENNA1, ANTENNA2 ORDER BY filename, file_row_number) AS prev FROM om)
        WHERE TIME < prev""").fetchone()[0])

    if mode == "bda":
        in_nchan = {pol: nchan for pol, nchan, _, _ in in_ddid.values()}
        bad = sum(n for pol, nch, n in con.sql(
            "SELECT POL, nch, count(*) FROM om GROUP BY ALL").fetchall()
            if pol not in in_nchan or in_nchan[pol] % nch != 0)
        add("bda.nchan_divides", bad)
        con.register("bound", pd.concat(bound_rows))
        bad = con.sql("""SELECT count(*) FROM (SELECT DISTINCT FIELD_ID, SCAN_NUMBER, POL,
                             ANTENNA1, ANTENNA2, nch FROM om) o
            JOIN bound b USING (FIELD_ID, SCAN_NUMBER, POL, ANTENNA1, ANTENNA2)
            WHERE o.nch <> b.NCHAN_IN AND (b.NCHAN_IN // o.nch) * b.CW0 > b.DNU_MAX""").fetchone()[0]
        add("bda.sinc_bound", bad, "baselines whose channel width exceeds the decorrelation bound")
    return res


def _out_vis(out_root, ddids):
    """Σ DATA·WEIGHT_SPECTRUM (re, im) and Σ (SIGMA_SPECTRUM·WEIGHT_SPECTRUM)²
    of the output per (baseline, output channel, corr): the input's
    Σw·v and Σw²σ² if the averages are right."""
    t = ds.dataset(f"{out_root}/main", format="parquet", partitioning="hive").to_table(
        columns=["FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2",
                 "DATA", "WEIGHT_SPECTRUM", "SIGMA_SPECTRUM"])
    frames = []
    for ddid, pol, ncorr in ddids:
        s = t.filter(pc.equal(t["DATA_DESC_ID"], ddid))
        n = s.num_rows
        if n == 0:
            continue
        data = s["DATA"].combine_chunks()
        nch = pc.list_value_length(data).to_numpy()
        if (nch != nch[0]).any():
            raise ValueError(f"DDID {ddid}: rows of different channel counts")
        kc = int(nch[0]) * ncorr
        w = _flat(s["WEIGHT_SPECTRUM"].combine_chunks(), n, int(nch[0]), ncorr).reshape(n, kc)
        vis = pc.list_flatten(pc.list_flatten(data))
        frame = {"POS": np.tile(np.arange(kc), n), "POL": pol}
        for c in ("FIELD_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2"):
            frame[c] = np.repeat(s[c].to_numpy(), kc)
        for part in ("re", "im"):
            v = pc.struct_field(vis, part).to_numpy(zero_copy_only=False).astype(np.float64)
            frame[part] = (w * v.reshape(n, kc)).reshape(-1)
        sig = _flat(s["SIGMA_SPECTRUM"].combine_chunks(), n, int(nch[0]), ncorr).reshape(n, kc)
        frame["sig2"] = ((w * sig) ** 2).reshape(-1)
        frames.append(pd.DataFrame(frame))
    return pd.concat(frames).groupby(["FIELD_ID", "SCAN_NUMBER", "POL", "ANTENNA1", "ANTENNA2",
                                      "POS"], as_index=False).sum()


def check_curation(docs_root, out_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{docs_root}/documents.parquet')")
    con.sql(f"CREATE VIEW out AS SELECT * FROM read_parquet('{out_dir}/*.parquet')")
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    con.sql(f"""CREATE TABLE kept AS
        SELECT d.doc_id, d.source, d.text, string_split(d.text, ' ') AS tk,
               o.source AS out_source, o.cum_before
        FROM (SELECT DISTINCT doc_id, source, cum_before FROM out) o
        LEFT JOIN docs d USING (doc_id)""")
    res = []

    def add(name, sql):
        bad = con.sql(sql).fetchone()[0]
        res.append((name, bad == 0, f"{bad} violation(s)"))

    low_quality = f"""len(tk) < {MIN_TOKENS} OR len(tk) > {MAX_TOKENS}
        OR len(list_distinct(tk))::DOUBLE / len(tk) < {MIN_DISTINCT_RATIO}
        OR len(list_filter(tk, x -> x IN ({stop})))::DOUBLE / len(tk) > {MAX_STOP_RATIO}"""
    add("curation.quality", f"""SELECT count(*) FROM kept WHERE text IS NULL OR {low_quality}
        OR doc_id % {HELD_OUT_MOD} = 0 OR source IS DISTINCT FROM out_source""")
    # tokens never contain ' ', so a space-joined 4-gram is an exact key
    grams = """SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(tk) - 2),
                 i -> array_to_string(list_slice(tk, i, i + 3), ' '))) AS g FROM {}"""
    add("curation.decontaminated", f"""SELECT count(*) FROM ({grams.format('kept')}) k
        JOIN ({grams.format(f"(SELECT doc_id, string_split(text, ' ') AS tk FROM docs WHERE doc_id % {HELD_OUT_MOD} = 0)")}) b
        USING (g)""")
    add("curation.no_exact_dups", "SELECT count(*) - count(DISTINCT text) FROM kept")
    cases = " ".join(f"WHEN '{s}' THEN {b}" for s, b in sorted(BUDGETS.items()))
    add("curation.token_budget", f"""SELECT count(*) FROM (
        SELECT source, cum_before,
               coalesce(sum(len(tk)) OVER (PARTITION BY source ORDER BY cum_before, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS running
        FROM kept)
        WHERE cum_before <> running
           OR cum_before >= CASE source {cases} ELSE {DEFAULT_BUDGET} END""")
    # Completeness: admission stops only at the budget, so per source the
    # last admitted document reaches it, unless every candidate (quality
    # passing, not held out; near-dups are not recomputed here) was kept.
    add("curation.budget_filled", f"""SELECT count(*) FROM (
        SELECT source, count(*) AS n_cand FROM
          (SELECT source, string_split(text, ' ') AS tk FROM docs
           WHERE doc_id % {HELD_OUT_MOD} <> 0)
        WHERE NOT ({low_quality}) GROUP BY source) c
        LEFT JOIN (SELECT source, count(*) AS n_kept, max(cum_before + len(tk)) AS total
                   FROM kept GROUP BY source) k USING (source)
        WHERE k.source IS NULL OR (k.total < CASE source {cases} ELSE {DEFAULT_BUDGET} END
                                   AND k.n_kept < c.n_cand)""")
    # every kept document is cut into all its chunks: windows of
    # CHUNK_SIZE tokens every CHUNK_STRIDE tokens, labeled with one split
    con.sql(f"""CREATE TABLE want_chunks AS
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
               array_to_string(list_slice(tk, i * {CHUNK_STRIDE} + 1,
                                          i * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' ') AS chunk_text,
               CAST(len(list_slice(tk, i * {CHUNK_STRIDE} + 1,
                                   i * {CHUNK_STRIDE} + {CHUNK_SIZE})) AS BIGINT) AS n_chunk_tokens
        FROM (SELECT doc_id, tk, unnest(range(0, (greatest(len(tk) - {CHUNK_SIZE}, 0)
                                                  + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} + 1)) AS i
              FROM kept)""")
    cols = "doc_id, chunk_idx, chunk_text, n_chunk_tokens"
    add("curation.chunks", f"""SELECT
          (SELECT count(*) FROM (SELECT {cols} FROM out EXCEPT ALL SELECT {cols} FROM want_chunks))
        + (SELECT count(*) FROM (SELECT {cols} FROM want_chunks EXCEPT ALL SELECT {cols} FROM out))
        + (SELECT count(*) FROM (SELECT doc_id FROM out GROUP BY doc_id
                                 HAVING count(DISTINCT split) <> 1
                                    OR bool_or(split NOT IN ('train', 'val', 'test'))))""")
    return res


def check_sessions(events_root, out_dir):
    con = duckdb.connect()
    con.sql(f"""CREATE TABLE want AS
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS tu, CAST(round(value * 100) AS BIGINT) AS cents
          FROM read_parquet('{events_root}/events.parquet')),
        b AS (
          SELECT *, CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu)
                         > {SESSION_GAP_US} THEN 1 ELSE 0 END AS brk FROM e),
        s AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tu
                                   ROWS UNBOUNDED PRECEDING) AS sid FROM b)
        SELECT user_id, CAST(sid AS BIGINT) AS session_id, min(tu) AS s_start_us,
               max(tu) AS s_end_us, count(*) AS n_events, sum(cents) AS value_cents
        FROM s GROUP BY user_id, sid""")
    cols = "user_id, session_id, s_start_us, s_end_us, n_events, value_cents"
    con.sql(f"CREATE TABLE got AS SELECT {cols} FROM read_parquet('{out_dir}/*.parquet')")
    bad = con.sql(f"""SELECT (SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want))
                           + (SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got))""").fetchone()[0]
    n = con.sql("SELECT count(*) FROM want").fetchone()[0]
    return [("stream.sessions_equal", bad == 0, f"{bad} differing row(s) of {n} sessions")]
