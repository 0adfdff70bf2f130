#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir> [query ...]

Reads each Spark-written result parquet under <verify_out_dir>/<name>/ and
compares it to the DuckDB oracle from <verify_out_dir>/oracle_sql.json run
over the <sf_dir> parquet tables: row count, column names, dtypes, values.
"""
import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)


def sql_str(v: str) -> str:
    """A SQL string literal of v: single quotes doubled."""
    return "'" + v.replace("'", "''") + "'"


def _is_float(v) -> bool:
    return isinstance(v, (float, np.floating))


def _is_int(v) -> bool:
    return isinstance(v, (int, np.integer)) and not isinstance(v, bool)


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    # Reject int-vs-float type drift: the driver hashes typed values, so
    # 99111 != 99111.0 there — Python's numeric coercion must not hide it
    # here (it did for q_json_extract's HUGEINT->float oracle in round 2).
    if (_is_float(a) and _is_int(b)) or (_is_int(a) and _is_float(b)):
        return False
    if _is_float(a) and _is_float(b):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        a = list(a) if a is not None else a
        b = list(b) if b is not None else b
    return a == b


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # Large replicated corpora (PerfProbe buildscale, K>=25) push a few
    # oracle replays past what an in-memory DuckDB can hold — without a
    # temp_directory it cannot spill and dies with "Out of Memory Error"
    # instead. Opt-in via env so the driver-scale default path is
    # byte-identical: CHECK_TEMP_DIR enables disk spill, CHECK_THREADS
    # bounds concurrency (fewer threads = less transient memory).
    if os.environ.get("CHECK_TEMP_DIR"):
        con.sql(f"SET temp_directory={sql_str(os.environ['CHECK_TEMP_DIR'])}")
    if os.environ.get("CHECK_THREADS"):
        con.sql(f"SET threads={int(os.environ['CHECK_THREADS'])}")
    if os.environ.get("CHECK_MEM_LIMIT"):
        con.sql(f"SET memory_limit={sql_str(os.environ['CHECK_MEM_LIMIT'])}")
    for t in TABLES:
        # driver corpora are flat files; PerfProbe-buildScaled corpora are
        # Spark part-file directories — glob those
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

    failures = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            spark_df = norm(con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf())
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}")
            failures += 1
            continue
        try:
            ora_df = norm(con.sql(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue

        probs = []
        if list(spark_df.columns) != list(ora_df.columns):
            probs.append(f"columns spark={list(spark_df.columns)} oracle={list(ora_df.columns)}")
        if len(spark_df) != len(ora_df):
            probs.append(f"rows spark={len(spark_df)} oracle={len(ora_df)}")
        # vectorized fast path for large frames (the 25x replication runs
        # push some results past 10M rows — the per-cell Python loop is
        # minutes there): DataFrame.equals demands identical dtypes, so
        # the int-vs-float drift values_equal rejects still falls through
        # to the slow loop and gets flagged; any exception (exotic object
        # columns) also falls through
        fast_equal = False
        if not probs:
            try:
                fast_equal = (
                    [str(t) for t in spark_df.dtypes] ==
                    [str(t) for t in ora_df.dtypes] and
                    spark_df.equals(ora_df))
            except Exception:
                fast_equal = False
        if not probs and not fast_equal:
            ncell = 0
            for c in spark_df.columns:
                sv, ov = spark_df[c].tolist(), ora_df[c].tolist()
                for i, (x, y) in enumerate(zip(sv, ov)):
                    if not values_equal(x, y):
                        ncell += 1
                        if ncell <= 3:
                            probs.append(f"cell [{i}].{c}: spark={x!r} oracle={y!r}")
            if ncell > 3:
                probs.append(f"... {ncell} mismatched cells total")
        if probs:
            failures += 1
            print(f"FAIL {name}:")
            for p in probs:
                print(f"    {p}")
        else:
            print(f"OK   {name} ({len(spark_df)} rows)")
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
