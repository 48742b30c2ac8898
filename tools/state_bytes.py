#!/usr/bin/env python3
"""Bytes a maintained state directory stores, per family, table and column.

Usage:

    bin/graft.sh ingest-tick <dataDir> <stateDir>
    python3 tools/state_bytes.py <stateDir>

A family is a top-level directory of the state dir (corpus, clusters, ...,
ann, bm25). Each family line gives the bytes of every file under it (the
sum perfbench's `stored_mb` takes, local-FS `.crc` shadows included) and
its file count. Under it, each parquet table (a directory holding
`.parquet` files) gives its bytes and parquet file count, then the
compressed bytes of each column, summed over the table's parquet footers
with DuckDB.
"""
import os
import sys
from collections import defaultdict

import duckdb


def files_under(root):
    for d, _, names in os.walk(root):
        for n in names:
            yield os.path.join(d, n)


def is_parquet(path):
    name = os.path.basename(path)
    return name.endswith(".parquet") and not name.startswith(".")


def column_bytes(con, parquet_files):
    return con.execute(
        "SELECT path_in_schema, sum(total_compressed_size)::BIGINT AS b "
        "FROM parquet_metadata(?) GROUP BY path_in_schema ORDER BY b DESC, path_in_schema",
        [parquet_files],
    ).fetchall()


def report(state_dir):
    con = duckdb.connect()
    families = sorted(e for e in os.listdir(state_dir) if os.path.isdir(os.path.join(state_dir, e)))
    loose = [os.path.join(state_dir, e) for e in os.listdir(state_dir) if os.path.isfile(os.path.join(state_dir, e))]
    total = sum(os.path.getsize(f) for f in loose)
    for fam in families:
        root = os.path.join(state_dir, fam)
        files = list(files_under(root))
        fam_bytes = sum(os.path.getsize(f) for f in files)
        total += fam_bytes
        print(f"{fam}: {fam_bytes} bytes, {len(files)} files")
        tables = defaultdict(list)
        for f in files:
            if is_parquet(f):
                tables[os.path.dirname(f)].append(f)
        for table in sorted(tables):
            pq = sorted(tables[table])
            print(f"  {os.path.relpath(table, state_dir)}: "
                  f"{sum(os.path.getsize(f) for f in pq)} bytes, {len(pq)} parquet files")
            for column, b in column_bytes(con, pq):
                print(f"    {column}: {b}")
    if loose:
        print(f"(top level): {sum(os.path.getsize(f) for f in loose)} bytes, {len(loose)} files")
    print(f"total: {total} bytes ({total / (1024.0 * 1024.0):.3f} MB)")


def main(argv):
    if len(argv) != 2 or not os.path.isdir(argv[1]):
        print("usage: state_bytes.py <stateDir>", file=sys.stderr)
        return 2
    report(argv[1])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
