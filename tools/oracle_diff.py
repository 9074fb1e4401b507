#!/usr/bin/env python3
"""Compare two graft.Verify oracle maps gate by gate. Developer tooling only.

Each gate's oracle SQL is classed as byte-equal, whitespace-only or
changed. Every pair that is not byte-equal is run in DuckDB over the sf
tables and the two results are compared with selfcheck's `canon`
(whitespace can be significant inside a quoted literal, so
whitespace-only pairs are run too). A gate present in only one map is a
mismatch.

Usage: python3 tools/oracle_diff.py <old oracle_sql.json> <new oracle_sql.json> <sfDir>
Exits 1 on any mismatch.
"""
import json, os, sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from selfcheck import TABLES, canon  # noqa: E402


def main(old_path, new_path, sf_dir):
    old, new = json.load(open(old_path)), json.load(open(new_path))
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{os.environ.get('SELFCHECK_MEM', '8GB')}'")
    con.execute(f"SET threads={os.environ.get('SELFCHECK_THREADS', '4')}")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    counts = {"byte-equal": 0, "whitespace": 0, "changed": 0}
    mismatches = []
    for name in sorted(set(old) | set(new)):
        if name not in old or name not in new:
            print(f"ONLY  {name}: {'new' if name in new else 'old'} map only")
            mismatches.append(name)
            continue
        a, b = old[name], new[name]
        if a == b:
            counts["byte-equal"] += 1
            continue
        kind = "whitespace" if a.split() == b.split() else "changed"
        counts[kind] += 1
        try:
            ra, rb = con.execute(a).df(), con.execute(b).df()
        except Exception as e:
            print(f"ERR   {name} ({kind}): {str(e)[:160]}")
            mismatches.append(name)
            continue
        if sorted(ra.columns) == sorted(rb.columns) and canon(ra) == canon(rb):
            print(f"SAME  {name} ({kind}, {len(ra)} rows)")
        else:
            print(f"DIFF  {name} ({kind}): rows old={len(ra)} new={len(rb)} "
                  f"cols old={sorted(ra.columns)} new={sorted(rb.columns)}")
            mismatches.append(name)
    print(f"\n{counts['byte-equal']} byte-equal, {counts['whitespace']} "
          f"whitespace-only, {counts['changed']} changed; "
          f"{len(mismatches)} mismatch")
    return 1 if mismatches else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
