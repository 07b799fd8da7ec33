#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Every query graft.Verify lists in verify_failures.json prints
`FAIL <name>: VERIFY: <msg>`, with or without an oracle, and makes the
exit status 1.

Driver-faithful compare, reverse-engineered in tools/hash_forensics.py
against CORRECTNESS_r02.json (its failure set matches the driver's 23
hash failures exactly, with zero false positives on the 69 passes):

  - Spark side: the Verify parquet dump read via pyarrow -> pandas.
  - Oracle side: DuckDB runs the paired SQL -> .df() (pandas).
  - Columns sorted by name; every cell stringified; exact string
    equality row by row.

This is why decimal-typed output columns can never pass: pyarrow keeps
them as Decimal objects ("253942.00") while DuckDB's .df() converts to
float64 ("253942.0").  The round-2 checker normalized Decimal->float
before comparing and certified 92/92 while the driver saw 69/92 — never
compare more leniently than the driver.
"""
import json
import sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    """DuckDB connection with one view per fixture table."""
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; scaled fixtures (e.g.
        # ScaleFixtures' /tmp/sf1) are Spark part-file DIRECTORIES
        p = Path(sf_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{src}')")
    return con


def verify_failures(out_dir):
    """name -> message of every query graft.Verify could not dump."""
    return json.loads(Path(out_dir, "verify_failures.json").read_text())


def compare(con, out_dir, name, sql):
    """Return None if the dump matches the oracle, else a reason."""
    sdf = pq.read_table(f"{out_dir}/{name}").to_pandas()
    odf = con.sql(sql).df()
    if sorted(sdf.columns) != sorted(odf.columns):
        return (f"SCHEMA: spark={sorted(sdf.columns)} "
                f"oracle={sorted(odf.columns)}")
    sdf = sdf[sorted(sdf.columns)]
    odf = odf[sorted(odf.columns)]
    if len(sdf) != len(odf):
        return f"ROWS: spark={len(sdf)} oracle={len(odf)}"
    a = sdf.astype(str).values.tolist()
    b = odf.astype(str).values.tolist()
    for i, (ra, rb) in enumerate(zip(a, b)):
        if ra != rb:
            for j, (ca, cb) in enumerate(zip(ra, rb)):
                if ca != cb:
                    return (f"VALUE: row {i} col {sdf.columns[j]}: "
                            f"spark={ca!r} oracle={cb!r}")
    return None


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = connect(sf_dir)
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    failed = verify_failures(out_dir)
    results = {}
    dumped = {p.name for p in Path(out_dir).iterdir() if p.is_dir()}
    for name in sorted(oracle):
        if name in failed:
            results[name] = f"VERIFY: {failed[name]}"
            continue
        if name not in dumped:
            results[name] = "MISSING_SPARK_OUTPUT"
            continue
        try:
            results[name] = compare(con, out_dir, name, oracle[name]) or "OK"
        except Exception as e:
            results[name] = f"ERROR: {type(e).__name__}: {str(e)[:300]}"
    n_ok = sum(1 for v in results.values() if v == "OK")
    for name, v in results.items():
        if v != "OK":
            print(f"FAIL {name}: {v}")
    for name in sorted(set(failed) - set(oracle)):
        print(f"FAIL {name}: VERIFY: {failed[name]}")
    # queries with no oracle: rows-only check
    for name in sorted(dumped - set(oracle) - set(failed)):
        try:
            n = con.sql(f"SELECT count(*) FROM read_parquet("
                        f"'{out_dir}/{name}/*.parquet')").fetchone()[0]
            print(f"NOORACLE {name}: rows={n}" + ("" if n > 0 else "  <-- EMPTY"))
        except Exception as e:
            print(f"NOORACLE {name}: ERROR {e}")
    print(f"\n{n_ok}/{len(oracle)} oracle-paired queries OK")
    if failed:
        print(f"{len(failed)} queries failed in graft.Verify")
    sys.exit(0 if n_ok == len(oracle) and not failed else 1)


if __name__ == "__main__":
    main()
