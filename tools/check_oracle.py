"""Local stand-in for the driver's correctness gate: run every queries()
entry at sf0.01 and compare against oracle_sql() via DuckDB — row count,
column names, and an order-insensitive value hash (columns sorted by name,
rows sorted, values stringified).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import traceback

# the checkout this tool sits in, not an installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    import datetime
    import decimal
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def table_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )
    import hashlib
    h = hashlib.md5()
    for row in normed:
        h.update("|".join(row).encode())
        h.update(b"\n")
    return h.hexdigest(), normed


def main():
    from zen3geo_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="oracle_check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"[FAIL-SPARK] {name}")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY ] {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception:
            print(f"[FAIL-DUCK ] {name}")
            traceback.print_exc()
            failures.append(name)
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        sh, snorm = table_fingerprint(scols, srows)
        dh, dnorm = table_fingerprint(dcols, drows)
        status = "OK" if (ok_cols and sh == dh) else "MISMATCH"
        print(f"[{status:9}] {name}: spark {len(srows)} rows / duck {len(drows)} rows"
              f"{'' if ok_cols else f' COLS spark={sorted(scols)} duck={sorted(dcols)}'}")
        if status != "OK":
            failures.append(name)
            for i, (a, b) in enumerate(zip(snorm, dnorm)):
                if a != b:
                    print(f"  first diff row {i}:\n    spark={a}\n    duck ={b}")
                    break
            if len(snorm) != len(dnorm):
                print(f"  row counts differ: {len(snorm)} vs {len(dnorm)}")
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
