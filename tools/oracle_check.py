#!/usr/bin/env python3
"""Check a graft.Verify dump against its DuckDB oracles.

Usage:
    python3 tools/oracle_check.py SF_DIR DUMP_DIR

SF_DIR holds the input tables (`region.parquet`, ..., `embeddings.parquet`);
DUMP_DIR is the output directory of
`sbt "runMain graft.Verify SF_DIR DUMP_DIR"` (one parquet directory per
query plus `oracle_sql.json`).

For every entry of `oracle_sql.json` the script runs the SQL in DuckDB over
views named after the input files, sorts both results' columns by name,
casts the engine's table to the oracle's schema, and compares them. Row
order is compared only when the oracle SQL ends in an ORDER BY; otherwise
both sides are compared as multisets of rows. Values are compared exactly.

Prints one PASS/FAIL line per query and a `N/M green` summary; exits 1 if
any query fails.
"""
import glob
import json
import os
import re
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def by_name(t: pa.Table) -> pa.Table:
    return t.select(sorted(t.column_names))


def canonical(t: pa.Table) -> list:
    return sorted(json.dumps(r, sort_keys=True, default=repr)
                  for r in t.to_pylist())


def ordered(sql: str) -> bool:
    return re.search(r"ORDER\s+BY[^)]*$", sql.strip().rstrip(";"),
                     re.IGNORECASE | re.DOTALL) is not None


def check(con, name: str, sql: str, dump: str) -> str:
    """Returns None on a match, else a one-line reason."""
    files = glob.glob(os.path.join(dump, name, "*.parquet"))
    if not files:
        return "no engine output"
    got = by_name(pa.concat_tables([pq.read_table(f) for f in sorted(files)]))
    want = by_name(con.execute(sql).fetch_arrow_table())
    if got.column_names != want.column_names:
        return f"columns {got.column_names} != {want.column_names}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows != oracle {want.num_rows}"
    try:
        got = got.cast(want.schema)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
        return f"cast to oracle schema failed: {e}"
    if ordered(sql):
        return None if got.equals(want) else "rows differ (ordered compare)"
    return None if canonical(got) == canonical(want) else "rows differ"


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    sf, dump = sys.argv[1], sys.argv[2]
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    failed = 0
    for name in sorted(oracles):
        try:
            reason = check(con, name, oracles[name], dump)
        except Exception as e:  # a broken oracle or dump is a failure too
            reason = f"{type(e).__name__}: {e}"
        failed += reason is not None
        print(f"{'PASS' if reason is None else 'FAIL'} {name}"
              + ("" if reason is None else f": {reason}"))
    print(f"{len(oracles) - failed}/{len(oracles)} green")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
