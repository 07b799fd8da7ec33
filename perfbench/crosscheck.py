#!/usr/bin/env python3
"""One-time cross-check of the stored expected results against DuckDB.

    python3 perfbench/crosscheck.py <workload> [--seed N]

Re-records the workload's expected results (`run.py --record`), dumps
each job's Spark result as parquet together with the program's oracle
SQL (`SparkEntry.oracleSqlFor`) for the generated inputs, and compares
every job that has an oracle with DuckDB's answer using the compare
rules of `tools/oracle_check.py` (columns by name, cells as strings,
row order significant). Jobs without an oracle are listed as such.
Exit status 0 iff every oracle-paired job matches.
"""
import argparse
import json
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent / "tools"))
import datagen  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload", choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    import duckdb
    from oracle_check import TABLES, compare

    with tempfile.TemporaryDirectory(dir=".") as dump:
        subprocess.run([sys.executable, str(HERE / "run.py"), "--record",
                        a.workload, "--seed", str(a.seed), "--dump", dump],
                       check=True)
        data, _ = datagen.ensure_inputs(Path(".bench_build") / "data",
                                        run.SCALE, a.seed)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data / (t + '.parquet')}')")
        oracle = json.loads(Path(dump, "oracle_sql.json").read_text())
        jobs = sorted(p.name for p in Path(dump).iterdir() if p.is_dir())
        bad = 0
        for name in jobs:
            if name not in oracle:
                print(f"NOORACLE {a.workload}/{name}")
                continue
            why = compare(con, dump, name, oracle[name])
            print(f"{'OK' if why is None else 'FAIL'} {a.workload}/{name}"
                  + ("" if why is None else f": {why}"))
            bad += why is not None
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
