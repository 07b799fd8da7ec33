#!/usr/bin/env python3
"""Parallel, timeout-guarded variant of oracle_check.py for LARGE
fixtures (the sf1 leg).  Same driver-faithful compare, fixture views
and verify_failures.json handling, imported from oracle_check.py (see
its docstring for why no normalization is allowed), but:

  - each oracle query runs in its OWN worker process with a wall-clock
    timeout (default 600 s), so the handful of deliberately-quadratic
    oracle CTEs (the n-gram bucket all-pairs mirrors; see BASELINE.md
    "sf1 oracle-gate boundary") report TIMEOUT instead of wedging the
    whole sweep — r7's serial attempt burned >4.5 CPU-hours before
    being killed;
  - workers run in parallel (default 8, each DuckDB capped at
    threads=4) so the sweep uses the box without one query owning it;
  - per-query wall time is printed, so the oracle-side cost profile is
    recorded alongside pass/fail.

Usage: python3 tools/oracle_check_par.py <sfDir> <verifyOutDir>
         [--timeout SEC] [--workers N] [--only a,b,c]
"""
import argparse
import json
import multiprocessing as mp
import sys
import time
from pathlib import Path

from oracle_check import compare, connect, verify_failures


def run_one(args):
    sf_dir, out_dir, name, sql = args
    t0 = time.time()
    try:
        con = connect(sf_dir)
        con.execute("SET threads=4")
        verdict = compare(con, out_dir, name, sql) or "OK"
        return name, time.time() - t0, verdict
    except Exception as e:
        return name, time.time() - t0, \
            f"ERROR: {type(e).__name__}: {str(e)[:300]}"


def worker(job, conn):
    # module-level: the spawn start method pickles the target by name
    conn.send(run_one(job))
    conn.close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--timeout", type=float, default=600.0)
    ap.add_argument("--workers", type=int, default=8)
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    oracle = json.loads(Path(args.out_dir, "oracle_sql.json").read_text())
    failed = verify_failures(args.out_dir)
    if args.only:
        keep = set(args.only.split(","))
        oracle = {k: v for k, v in oracle.items() if k in keep}
        failed = {k: v for k, v in failed.items() if k in keep}
    dumped = {p.name for p in Path(args.out_dir).iterdir() if p.is_dir()}

    jobs = []
    results = {}
    for name in sorted(oracle):
        if name in failed:
            results[name] = (0.0, f"VERIFY: {failed[name]}")
        elif name not in dumped:
            results[name] = (0.0, "MISSING_SPARK_OUTPUT")
        else:
            jobs.append((args.sf_dir, args.out_dir, name, oracle[name]))

    # one killable Process per query (a Pool worker stuck in a
    # quadratic DuckDB join can't be preempted and would starve the
    # remaining jobs past its timeout)
    ctx = mp.get_context("spawn")
    queue = list(jobs)
    running = {}  # name -> (Process, conn, start_time)

    def recv_result(name, proc, conn):
        """Read one result; a dead-without-sending worker (OOM-killed
        DuckDB) surfaces as EOFError from recv — poll() returns True on
        a closed pipe too, so every recv must tolerate it."""
        try:
            n, dt, verdict = conn.recv()
        except EOFError:
            return False
        results[n] = (dt, verdict)
        tag = "OK " if verdict == "OK" else verdict
        print(f"[{dt:7.1f}s] {tag}  {n}", flush=True)
        # bounded join (r11 ADVICE): the result is already in hand, so
        # a worker hanging in interpreter/DuckDB teardown must not
        # stall the single-threaded harvest loop — kill it on expiry
        proc.join(timeout=30)
        if proc.is_alive():
            proc.kill()
            proc.join()
        return True

    def harvest():
        for name, (proc, conn, t0) in list(running.items()):
            if conn.poll():
                if not recv_result(name, proc, conn):
                    proc.join()
                    results[name] = (time.time() - t0, "ERROR: worker died")
                    print(f"WORKER DIED  {name}", flush=True)
                running.pop(name)
            elif time.time() - t0 > args.timeout:
                proc.kill()
                proc.join()
                results[name] = (args.timeout, "TIMEOUT")
                print(f"[{args.timeout:7.1f}s] TIMEOUT  {name}", flush=True)
                running.pop(name)
            elif not proc.is_alive():
                # re-poll before declaring death: the child's send can
                # land microseconds after a poll() that returned False,
                # with the process already exited by the time is_alive
                # is checked — a real harvest race, not a dead worker
                if not (conn.poll() and recv_result(name, proc, conn)):
                    results[name] = (time.time() - t0, "ERROR: worker died")
                    print(f"WORKER DIED  {name}", flush=True)
                running.pop(name)

    while queue or running:
        while queue and len(running) < args.workers:
            job = queue.pop(0)
            parent, child = ctx.Pipe(duplex=False)
            p = ctx.Process(target=worker, args=(job, child))
            p.start()
            running[job[2]] = (p, parent, time.time())
        harvest()
        if running:
            time.sleep(0.5)

    n_ok = sum(1 for _, v in results.values() if v == "OK")
    n_to = sum(1 for _, v in results.values() if v == "TIMEOUT")
    print("\n--- failures ---")
    for name in sorted(results):
        dt, v = results[name]
        if v not in ("OK", "TIMEOUT"):
            print(f"FAIL {name}: {v}")
    for name in sorted(set(failed) - set(oracle)):
        print(f"FAIL {name}: VERIFY: {failed[name]}")
    print(f"\n{n_ok}/{len(oracle)} OK, {n_to} TIMEOUT (oracle-side), "
          f"{len(oracle) - n_ok - n_to} FAIL")
    # exit codes: 0 = everything compared green; 2 = no divergence but
    # some oracles timed out (NOT a pass — a hung oracle can hide a
    # regression as easily as a quadratic CTE; raise --timeout and
    # re-run the timed-out names with --only); 1 = real divergence or
    # a query graft.Verify could not dump
    if failed:
        sys.exit(1)
    if n_ok == len(oracle):
        sys.exit(0)
    sys.exit(2 if n_ok + n_to == len(oracle) else 1)


if __name__ == "__main__":
    main()
