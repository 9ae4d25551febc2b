#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

    python3 tools/dump_diff.py PARENT_DUMP CHANGE_DUMP [QUERY ...]

Each dump directory holds one parquet directory per query. With no QUERY
named, every query in either dump is compared. A query is equal when both
sides have it, their schemas are equal, and their rows are equal as a
multiset (both tables sorted by every column, then compared). Prints one
line per query and exits 1 on any difference.
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def queries(dump):
    return {n for n in os.listdir(dump)
            if os.path.isdir(os.path.join(dump, n))}


def load(dump, name):
    # the dump's own schema, without the pandas/spark metadata
    t = pq.read_table(os.path.join(dump, name))
    return t.replace_schema_metadata(None)


def canonical(t):
    """`t` sorted by every column; a list/struct/map column, which has no
    sort order, sorts by the text of its values."""
    keys = pa.table({f.name: pa.array([repr(v) for v in t.column(f.name).to_pylist()])
                     if pa.types.is_nested(f.type) else t.column(f.name)
                     for f in t.schema})
    return t.take(pc.sort_indices(
        keys, sort_keys=[(n, "ascending") for n in keys.column_names]))


def compare(parent, change, name):
    """(equal, detail) for one query."""
    if not os.path.isdir(os.path.join(parent, name)):
        return False, "only in change"
    if not os.path.isdir(os.path.join(change, name)):
        return False, "only in parent"
    a, b = load(parent, name), load(change, name)
    if not a.schema.equals(b.schema):
        return False, f"schema differs: {a.schema} vs {b.schema}"
    if a.num_rows != b.num_rows:
        return False, f"row count differs: {a.num_rows} vs {b.num_rows}"
    if a.num_rows and not canonical(a).equals(canonical(b)):
        return False, "rows differ"
    return True, f"{a.num_rows} rows"


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    parent, change = argv[1], argv[2]
    names = argv[3:] or sorted(queries(parent) | queries(change))
    bad = 0
    for name in names:
        equal, detail = compare(parent, change, name)
        bad += not equal
        print(f"{'EQUAL' if equal else 'DIFF '} {name}: {detail}")
    print(f"{len(names) - bad}/{len(names)} equal")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
