"""Full DuckDB oracle compare of the curation workload for one seed.

    python3 perfbench/oracle.py --seed 1

Runs `curation_sf1` once, then evaluates the entry's oracle SQL (the
`oracle_sql.json` the run writes next to its result) in DuckDB over the
same seeded documents, and compares the two tables as multisets of rows.
The oracle result is cached per input (seed and source hash, see gen.py)
and SQL hash under `.perfbench/oracle/`, since computing it takes minutes.
"""
import argparse
import hashlib
import json
import os
import sys
import time

import duckdb

import gen
import run

ENTRY = "pl_p3_full_curation"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    b = run.build()
    docs, manifest = gen.ensure("docs", a.seed, run.REPO)
    r = run.one_round(b, "curation_sf1", docs, manifest, os.cpu_count() or 4, False)
    rd = f"{run.WORK}/runs/curation_sf1"
    if r["failures"]:
        print(f"FAIL: the run itself failed: {r['failures']}")
        return 1
    with open(f"{rd}/oracle_sql.json") as f:
        sql = json.load(f)[ENTRY]
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    cache = f"{run.WORK}/oracle/{os.path.basename(docs)}-{key}.parquet"
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/documents.parquet')")
    if not os.path.exists(cache):
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        t0 = time.time()
        con.sql(f"COPY ({sql}) TO '{cache}.tmp' (FORMAT parquet)")
        os.rename(f"{cache}.tmp", cache)
        print(f"oracle computed in {time.time() - t0:.0f} s, cached as {cache}")
    con.sql(f"CREATE VIEW want AS SELECT * FROM read_parquet('{cache}')")
    con.sql(f"CREATE VIEW got AS SELECT * FROM read_parquet('{rd}/{ENTRY}/*.parquet')")
    cols = sorted(c for c, *_ in con.sql("DESCRIBE want").fetchall())
    got_cols = sorted(c for c, *_ in con.sql("DESCRIBE got").fetchall())
    if cols != got_cols:
        print(f"FAIL: columns {got_cols} != {cols}")
        return 1
    sel = ", ".join(f'"{c}"' for c in cols)
    diff = con.sql(f"""SELECT (SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want))
                            + (SELECT count(*) FROM (SELECT {sel} FROM want EXCEPT ALL SELECT {sel} FROM got))""").fetchone()[0]
    n = con.sql("SELECT count(*) FROM want").fetchone()[0]
    print(f"{'PASS' if diff == 0 else 'FAIL'} {ENTRY} seed {a.seed}: {n} oracle rows, {diff} differing")
    return 0 if diff == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
