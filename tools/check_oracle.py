"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
dtypes, and an order-insensitive value hash. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    sort_cols = list(df.columns)
    df = df.sort_values(by=sort_cols, kind="mergesort").reset_index(drop=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in df.columns:
        s = df[col]
        if s.dtype == object:
            data = "\x1f".join("" if v is None else str(v) for v in s).encode()
        elif np.issubdtype(s.dtype, np.floating):
            data = np.ascontiguousarray(s.to_numpy(dtype=np.float64)).tobytes()
        else:
            data = np.ascontiguousarray(s.to_numpy()).tobytes()
        h.update(col.encode())
        h.update(data)
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from geo_spark.session import get_spark

    spark = get_spark(app_name="oracle_check")

    out_path = os.environ.get("ORACLE_CHECK_OUT")
    results: dict = {}

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:24s} rows={len(sdf):7d}  (no oracle — rows-only) {t_spark:5.1f}s")
            results[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(sdf), "oracle_rows": None,
                "err": None, "rows_only": True,
            }
            continue
        t0 = time.time()
        odf = con.execute(oracles[name]).fetchdf()
        t_duck = time.time() - t0
        s, o = canon(sdf), canon(odf)
        problems = []
        if len(s) != len(o):
            problems.append(f"rowcount {len(s)} vs {len(o)}")
        if list(s.columns) != list(o.columns):
            problems.append(f"cols {list(s.columns)} vs {list(o.columns)}")
        else:
            st = [str(s[c].dtype) for c in s.columns]
            ot = [str(o[c].dtype) for c in o.columns]
            if st != ot:
                problems.append(f"dtypes {st} vs {ot}")
            if not problems and value_hash(s) != value_hash(o):
                problems.append("value-hash mismatch")
                for c in s.columns:
                    if len(s) == len(o):
                        if s[c].dtype == object:
                            neq = (s[c].fillna("") != o[c].fillna("")).sum()
                        else:
                            neq = (~np.isclose(s[c].to_numpy(dtype=np.float64),
                                               o[c].to_numpy(dtype=np.float64),
                                               rtol=0, atol=0, equal_nan=True)).sum()
                        if neq:
                            problems.append(f"  col {c}: {neq} rows differ")
        results[name] = {
            "rows_match": len(s) == len(o),
            "schema_match": list(s.columns) == list(o.columns)
            and not any(p.startswith("dtypes") for p in problems),
            "hash_match": not problems,
            "spark_rows": len(s), "oracle_rows": len(o),
            "err": "; ".join(problems) or None,
        }
        status = "OK " if not problems else "FAIL"
        print(f"{name:24s} {status} rows={len(s):7d} spark={t_spark:5.1f}s duck={t_duck:5.1f}s")
        for p in problems:
            print(f"    {p}")
        if problems:
            failures.append(name)
    if out_path:
        import json

        with open(out_path, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {out_path} ({len(results)} queries)")
    print()
    print("FAILURES:", failures if failures else "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
