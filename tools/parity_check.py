#!/usr/bin/env python3
"""Local pre-check of the driver's correctness gate: run each oracle SQL
from verify-out/oracle_sql.json in DuckDB over the same parquet tables,
and compare against the Spark result parquet (columns sorted by name,
rows sorted by all columns, exact value equality).

Usage: python3 tools/parity_check.py <sfDir> <verifyOutDir>
"""
import json
import multiprocessing
import os
import sys
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def connect(sf_dir: str, out_dir: str, mem: int):
    # Bounded memory, spilling under the output dir: an oracle that needs
    # more than the host has fails with DuckDB's out-of-memory error. Half
    # of MemAvailable leaves room for the pandas frames each compare
    # materializes.
    con = duckdb.connect(config={
        "memory_limit": f"{mem // 2 // 2**20}MB",
        "temp_directory": os.path.join(out_dir, ".duckdb_tmp")})
    # no progress bar: it would prefix the next report line
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(con, out_dir: str, name: str, sql: str) -> tuple:
    """One oracle vs its Spark output: (failed, warning lines, outcome)."""
    try:
        expect = canon(con.sql(sql).df())
        got = canon(con.sql(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
    except Exception as e:
        return True, "", str(e)
    if list(expect.columns) != list(got.columns):
        return True, "", f"columns {list(got.columns)} vs oracle {list(expect.columns)}"
    warn = ""
    if expect.dtypes.tolist() != got.dtypes.tolist():
        warn = f"WARN {name}: dtypes {got.dtypes.tolist()} vs {expect.dtypes.tolist()}\n"
    if len(expect) != len(got):
        return True, warn, f"rows {len(got)} vs oracle {len(expect)}"
    if not expect.equals(got):
        neq = (expect != got) & ~(expect.isna() & got.isna())
        bad = neq.any(axis=1)
        return True, warn, (f"{int(bad.sum())}/{len(expect)} rows differ; first:\n"
                            f"{pd.concat([expect[bad].head(2), got[bad].head(2)])}")
    return False, warn, f"{len(expect)} rows"


def report(name: str, failed: bool, warn: str, outcome: str, secs: float) -> str:
    """The oracle's `ok`/`FAIL` line, with the seconds its compare took."""
    if failed:
        return f"{warn}FAIL {name} ({secs:.2f} s): {outcome}"
    return f"{warn}ok   {name} ({outcome}, {secs:.2f} s)"


def oracle_worker(conn, sf_dir: str, out_dir: str, mem: int) -> None:
    con = connect(sf_dir, out_dir, mem)
    for name, sql in iter(conn.recv, None):
        t0 = time.monotonic()
        failed, warn, outcome = compare(con, out_dir, name, sql)
        conn.send((failed, report(name, failed, warn, outcome, time.monotonic() - t0)))


def resident_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the worker exited meanwhile
        pass
    return 0


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # manifest first: a query Verify recorded as crashed fails ONCE, up
    # front, and is skipped by the oracle loop (no double count, and a
    # stale output dir can't mask the crash)
    manifest_path = os.path.join(out_dir, "manifest.json")
    crashed = set()
    min_rows = {}
    if os.path.exists(manifest_path):
        manifest = json.load(open(manifest_path))
        expected = set(manifest["queries"])
        crashed = set(manifest.get("failed", []))
        # declared minimum output sizes for rows-only queries (absent key
        # = 1, i.e. emptiness is a failure unless declared intentional)
        min_rows = manifest.get("min_rows", {})
    else:
        # no manifest (old Verify binary / partial run): fall back to
        # listing whatever output directories exist
        expected = set(oracle) | {n for n in os.listdir(out_dir)
                                  if os.path.isdir(os.path.join(out_dir, n))
                                  and not n.startswith(".")}
    failures = 0
    for name in sorted(crashed):
        print(f"FAIL {name}: Verify recorded a crash for this query")
        failures += 1
    # The oracles run in a worker process. DuckDB's memory_limit does not
    # bound every allocation (q167's list arithmetic grew past 16 GB
    # resident under a 6 GB limit at sf0.1), so a worker resident above
    # 3/4 of MemAvailable is stopped before the host runs out; a worker
    # stopped or dead mid-oracle is that oracle's FAIL, and a fresh one
    # takes the next.
    ctx = multiprocessing.get_context("spawn")
    mem = mem_available_bytes()
    cap = mem * 3 // 4
    worker = None
    for name, sql in sorted(oracle.items()):
        if name in crashed:
            continue
        if worker is None:
            conn, child = ctx.Pipe()
            worker = ctx.Process(target=oracle_worker, args=(child, sf_dir, out_dir, mem))
            worker.start()
            child.close()
        conn.send((name, sql))
        t0 = time.monotonic()
        over = False
        while not over and not conn.poll(0.2) and worker.is_alive():
            over = resident_bytes(worker.pid) > cap
        if over:
            worker.kill()
        try:
            failed, line = conn.recv()
        except EOFError:
            worker.join()
            why = (f"out of memory: over {cap // 2**20} MB resident" if over
                   else f"oracle process died (exit code {worker.exitcode})")
            failed, line = True, report(name, True, "", why, time.monotonic() - t0)
            worker = None
        print(line, flush=True)
        failures += failed
    if worker is not None:
        conn.send(None)
        worker.join()
    # rows-only entries (no oracle): report row counts, and FAIL any
    # query declared in the manifest whose output directory is missing
    # (a crashed rows-only query must not look green by absence).
    for name in sorted(expected - set(oracle) - crashed):
        p = os.path.join(out_dir, name)
        if not os.path.isdir(p):
            print(f"FAIL {name}: declared in manifest but no output written")
            failures += 1
            continue
        try:
            n = con.sql(f"SELECT count(*) FROM '{p}/*.parquet'").fetchone()[0]
        except Exception as e:
            print(f"FAIL {name}: unreadable output ({e})")
            failures += 1
            continue
        need = min_rows.get(name, 1)
        if n < need:
            print(f"FAIL {name}: {n} rows < declared minimum {need} (no oracle)")
            failures += 1
        else:
            print(f"rows {name}: {n} (no oracle, min {need})")
    for name in sorted(set(oracle) - expected):
        print(f"FAIL {name}: oracle SQL declared but query missing from manifest")
        failures += 1
    return failures


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
