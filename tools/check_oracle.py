#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Dev harness only (driver-side python env) — NOT part of the shipped Scala
library. Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01

Compares each query's Spark parquet dump against the same oracle SQL run in
DuckDB: sorts columns by name, sorts rows, compares values exactly (with a
report of near-misses for floats so rounding-boundary flakes are visible).
"""
import glob
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


NEAR_MISS_ABS_TOL = 1e-9


def values_equal(a, b):
    """Exact equality for pass/fail; floats within NEAR_MISS_ABS_TOL are
    still failures but get flagged as near-misses in the report so
    rounding-boundary flakes are distinguishable from real bugs."""
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            return False
    return a == b


def is_near_miss(a, b):
    try:
        return math.isclose(float(a), float(b), rel_tol=0, abs_tol=NEAR_MISS_ABS_TOL)
    except (TypeError, ValueError):
        return False


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            want = canon(con.sql(oracle[name]).df())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        problems = []
        if list(got.columns) != list(want.columns):
            problems.append(f"columns: spark={list(got.columns)} duckdb={list(want.columns)}")
        elif len(got) != len(want):
            problems.append(f"rows: spark={len(got)} duckdb={len(want)}")
        else:
            # dtype KINDS must agree: the driver's hash gate is
            # type-sensitive (r1: DuckDB HUGEINT vs Spark BIGINT failed it;
            # a Spark DECIMAL lands as object vs DuckDB's float64 likewise).
            for c in got.columns:
                gk, wk = got[c].dtype.kind, want[c].dtype.kind
                if gk != wk:
                    problems.append(
                        f"col {c}: dtype kind spark={got[c].dtype}({gk}) duckdb={want[c].dtype}({wk})"
                    )
            for c in got.columns:
                bad = [
                    (i, got[c].iloc[i], want[c].iloc[i])
                    for i in range(len(got))
                    if not values_equal(got[c].iloc[i], want[c].iloc[i])
                ]
                if bad:
                    i, g, w = bad[0]
                    near = sum(1 for _, x, y in bad if is_near_miss(x, y))
                    tag = f" ({near}/{len(bad)} near-misses, |diff|<={NEAR_MISS_ABS_TOL})" if near else ""
                    problems.append(f"col {c}: {len(bad)} diffs{tag}, first@{i}: spark={g!r} duckdb={w!r}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    # selfcheck.json: Verify's data-derived gate for the no-oracle queries
    # (hash/ANN ops) — fold it into this tool's exit code so the local loop
    # covers the full registry, not just the SQL-expressible 92.
    n_self_pass = n_self_fail = 0
    try:
        selfcheck = json.load(open(f"{out_dir}/selfcheck.json"))
    except FileNotFoundError:
        selfcheck = {}
        print("FAIL selfcheck.json: missing from the output dir (Verify always writes it)")
        n_self_fail += 1
    for name in sorted(selfcheck):
        r = selfcheck[name]
        if r["pass"]:
            print(f"PASS {name} (selfcheck: {r['check']}; metric={r['metric']})")
            n_self_pass += 1
        else:
            print(f"FAIL {name} (selfcheck: {r['check']}; metric={r['metric']}, violations={r['violations']})")
            n_self_fail += 1
    print(
        f"== {n_pass} pass, {n_fail} fail, {len(oracle)} total"
        f" | selfcheck {n_self_pass} pass, {n_self_fail} fail"
    )
    sys.exit(1 if (n_fail or n_self_fail) else 0)


if __name__ == "__main__":
    main()
