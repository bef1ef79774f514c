#!/usr/bin/env python
"""Local stand-in for the driver's DuckDB cross-check: runs every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet, compares row-count + sorted-by-name columns + order-insensitive
values. Usage: python tools/check_oracles.py [sf_dir] [query ...]"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

from npm_extraction_server_spark.plans.catalog import TABLES


def normalize(df: pd.DataFrame, float_cols: set | None = None) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if float_cols and c in float_cols and not str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif str(df[c].dtype).startswith("float"):
            # exact comparison: the suite's aggregates are designed for
            # bit-equality (decimal-stabilized sums, tie-free rounding)
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                df[c] = df[c].map(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: check_oracles.py [sf_dir] [--json FILE] [query ...]")
            return 2
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf_dir = "/root/testdata/sf0.01"
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]

    import __spark_entry__ as entry
    from npm_extraction_server_spark.plans.session import get_spark

    spark = get_spark(app="check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = args or list(queries)
    failures = []
    results: dict[str, dict] = {}

    def record(name, **kw):
        # same row shape the driver's CORRECTNESS_r*.json uses
        results[name] = {"rows_match": kw.get("rows_match", False),
                         "schema_match": kw.get("schema_match", False),
                         "hash_match": kw.get("hash_match", False),
                         "spark_rows": kw.get("spark_rows"),
                         "oracle_rows": kw.get("oracle_rows"),
                         "err": kw.get("err")}

    import time
    for name in names:
        if name not in queries:
            print(f"?? {name}: no such query")
            continue
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            record(name, err=f"spark error: {e}")
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            record(name, rows_match=len(sdf) > 0, spark_rows=len(sdf),
                   err=None)
            results[name]["rows_only"] = True
            results[name]["sec"] = round(time.time() - t0, 2)
            print(f"ok~  {name}: rows-only ({len(sdf)} rows)")
            if len(sdf) == 0:
                print(f"     WARNING: zero rows — weak evidence")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            record(name, spark_rows=len(sdf), err=f"duckdb error: {e}")
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        floaty = {
            c for df in (sdf, odf) for c, d in df.dtypes.items()
            if str(d).startswith("float")
        }
        a, b = normalize(sdf, floaty), normalize(odf, floaty)
        record(name, rows_match=len(a) == len(b),
               schema_match=list(a.columns) == list(b.columns),
               spark_rows=len(a), oracle_rows=len(b))
        results[name]["sec"] = round(time.time() - t0, 2)
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(a)} duckdb={len(b)}")
            continue
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad_cols = [c for c in a.columns if neq[c].any()]
            failures.append(name)
            print(f"FAIL {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:2]:
                idx = neq[c].idxmax()
                print(f"     {c}[{idx}]: spark={a[c][idx]!r} duckdb={b[c][idx]!r}")
            continue
        results[name]["hash_match"] = True
        print(f"ok   {name}: {len(a)} rows match")
    if json_out:
        import json as jsonlib
        with open(json_out, "w") as fh:
            jsonlib.dump(results, fh, indent=1)
        print(f"wrote {json_out}")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
