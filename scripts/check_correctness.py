"""Local mirror of the driver's correctness harness.

Runs every ``queries()`` entry at a given sf_dir, compares SQL-expressible
ones against DuckDB (row count + column names + order-insensitive value
hash), and prints a per-query PASS/FAIL table.  Use while iterating:

    python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

# the checkout this script lives in: a copy checks its own code
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ("documents", "embeddings", "events")


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash: sort columns by name, normalize values to
    strings, sort rows, md5."""
    df = df[sorted(df.columns)].copy()

    def norm(v):
        if v is None or v != v:
            return "NULL"
        if isinstance(v, float):
            # Keep a float marker on integral floats: the driver's hash
            # distinguishes float64 32.0 from int64 32 (round-3 shard_packing
            # red row came from DuckDB HUGEINT->float64 passing here under
            # the old "%.9g" collapse).  The mirror must be at least as
            # strict as the driver, so never normalize away the dtype.
            s = f"{v:.9g}"
            return s if ("." in s or "e" in s or "inf" in s) else s + ".0"
        if isinstance(v, (pd.Timestamp,)):
            return v.isoformat()
        return str(v)

    rows = sorted(
        "|".join(norm(v) for v in rec) for rec in df.itertuples(index=False)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from moira_spark.session import build_session

    spark = build_session(cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    failures = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name:28s} spark error:")
            traceback.print_exc()
            failures += 1
            continue
        finally:
            # several queries persist at plan branch points (sketches, ANN);
            # drop those entries so cache does not accumulate across the run
            spark.catalog.clearCache()
        took = time.time() - t0
        if name not in osql:
            print(f"rows  {name:28s} {len(sdf):7d} rows   (rows-only) {took:5.1f}s")
            continue
        try:
            ddf = con.execute(osql[name]).df()
        except Exception:
            print(f"FAIL  {name:28s} duckdb error:")
            traceback.print_exc()
            failures += 1
            continue
        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rows {len(sdf)} != {len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(ddf.columns)}")
        if not problems and value_hash(sdf) != value_hash(ddf):
            problems.append("value hash mismatch")
            # show a diff sample
            key = sorted(sdf.columns)
            a = sdf[key].sort_values(key).reset_index(drop=True)
            b = ddf[key].sort_values(key).reset_index(drop=True)
            for col in key:
                if not a[col].astype(str).equals(b[col].astype(str)):
                    neq = a[col].astype(str) != b[col].astype(str)
                    idx = neq.idxmax()
                    problems.append(
                        f"first diff col={col} row={idx}: "
                        f"spark={a[col][idx]!r} duckdb={b[col][idx]!r}"
                    )
                    break
        if problems:
            print(f"FAIL  {name:28s} {'; '.join(problems)}")
            failures += 1
        else:
            print(f"PASS  {name:28s} {len(sdf):7d} rows {took:5.1f}s")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
