"""Local stand-in for the driver's correctness gate: runs every
__spark_entry__.queries() entry at a given sf dir and compares it against
oracle_sql() via DuckDB — row count, sorted-column set, and an
order-insensitive value hash over stringified cells.

Usage: python tools/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

# this checkout's root (the parent of tools/), so a copy checks its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings".split()
)


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        d[c] = d[c].map(
            lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v))
            else (repr(float(v)) if isinstance(v, float) else str(v))
        )
    rows = sorted("\x1f".join(r) for r in d.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from jcrawler_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(
                f"rows-only {name}: {len(sdf)} rows "
                f"({time.time() - t0:.1f}s)"
            )
            if len(sdf) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failed.append(name)
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK   " if (ok_rows and ok_cols and ok_hash) else "FAIL "
        print(
            f"{status}{name}: rows {len(sdf)}/{len(odf)} cols_ok={ok_cols} "
            f"hash_ok={ok_hash} ({time.time() - t0:.1f}s)"
        )
        if not (ok_rows and ok_cols and ok_hash):
            failed.append(name)
            if ok_cols and ok_rows:
                cols = sorted(sdf.columns)
                a = sdf[cols].sort_values(cols).reset_index(drop=True)
                b = odf[cols].sort_values(cols).reset_index(drop=True)
                diff_shown = 0
                for i in range(min(len(a), len(b))):
                    if tuple(map(str, a.iloc[i])) != tuple(map(str, b.iloc[i])):
                        print("  spark :", dict(a.iloc[i]))
                        print("  oracle:", dict(b.iloc[i]))
                        diff_shown += 1
                        if diff_shown >= 3:
                            break
            else:
                print("  spark cols:", sorted(sdf.columns))
                print("  oracle cols:", sorted(odf.columns) if ok_cols is False else "")
    print("\nFAILED:", failed if failed else "none")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
