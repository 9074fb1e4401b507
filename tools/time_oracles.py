#!/usr/bin/env python3
"""Time every oracle SQL standalone in DuckDB — one subprocess per oracle
so a pathological plan (the round-15 ktruss hang) is killed by a hard
timeout instead of wedging the whole sweep. Developer tooling only.

Usage: python3 tools/time_oracles.py <sfDir> <oracleJson> [timeout_s] [only,names]
Prints one line per oracle: "<seconds> <name>" (or "TIMEOUT <name>"),
slowest last, then a summary.
"""
import sys, json, os, subprocess, time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORKER = r'''
import sys, json, time, os
import duckdb
sf_dir, sql = sys.argv[1], sys.stdin.read()
con = duckdb.connect()
con.execute(f"SET memory_limit='{os.environ.get('SELFCHECK_MEM', '24GB')}'")
con.execute(f"SET threads={os.environ.get('SELFCHECK_THREADS', '16')}")
for t in sys.argv[2].split(","):
    p = f"{sf_dir}/{t}.parquet"
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
t0 = time.time()
n = len(con.execute(sql).fetchall())
print(f"{time.time()-t0:.2f} rows={n}")
'''

def main():
    sf_dir, oracle_path = sys.argv[1], sys.argv[2]
    timeout = float(sys.argv[3]) if len(sys.argv) > 3 else 30.0
    only = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None
    # a partial fixture dir would fail every oracle's CREATE VIEW with
    # the same binding error — report it once instead
    missing = [t for t in TABLES
               if not os.path.exists(f"{sf_dir}/{t}.parquet")]
    if missing:
        sys.exit(f"missing fixture table(s) in {sf_dir}: "
                 + ", ".join(f"{t}.parquet" for t in missing))
    oracle = json.load(open(oracle_path))
    results = []
    for name in sorted(oracle):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            p = subprocess.run(
                [sys.executable, "-c", WORKER, sf_dir, ",".join(TABLES)],
                input=oracle[name], capture_output=True, text=True,
                timeout=timeout)
            dt = time.time() - t0
            if p.returncode != 0:
                results.append((dt, name, "ERR " + p.stderr.strip()[-120:]))
            else:
                results.append((dt, name, p.stdout.strip()))
        except subprocess.TimeoutExpired:
            results.append((timeout, name, "TIMEOUT"))
        print(f"{results[-1][0]:8.2f}  {name}  {results[-1][2][:60]}", flush=True)
    results.sort()
    print("\n== slowest ==")
    for dt, name, note in results[-15:]:
        print(f"{dt:8.2f}  {name}  {note[:60]}")
    bad = [r for r in results if r[2] == "TIMEOUT" or r[2].startswith("ERR")]
    print(f"\n{len(results)} oracles, {len(bad)} timeout/error, "
          f"sum={sum(r[0] for r in results):.1f}s")

if __name__ == "__main__":
    main()
