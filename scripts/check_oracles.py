"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf dir; compare row count, column names, and order-insensitive values.
Each result line also carries the query's Spark seconds (plan build +
collect), so one run is also the breadth probe of where the time goes;
the last line sums them.

Usage: python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb

import __spark_entry__ as entrymod
from webtext_extraction_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(v).lower()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.6f}"
    except Exception:
        pass
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    ok = fail = 0
    spark_total = 0.0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            elapsed = time.time() - t0
            spark_total += elapsed
            spark_s = f"spark {elapsed:.2f} s"
        except Exception as e:
            print(f"[SPARK ERR ] {name}: {str(e)[:300]}")
            fail += 1
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY ] {name}: {len(srows)} rows, cols={scols}, {spark_s}")
            ok += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"[DUCK ERR  ] {name}: {spark_s}; {str(e)[:300]}")
            fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {scols} vs {dcols}")
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if not problems:
            a, b = norm_rows(scols, srows), norm_rows(dcols, drows)
            if a != b:
                diff = [x for x in zip(a, b) if x[0] != x[1]][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"[MISMATCH  ] {name}: {spark_s}; {'; '.join(problems)[:500]}")
            fail += 1
        else:
            print(f"[MATCH     ] {name}: {len(srows)} rows, {spark_s}")
            ok += 1
    print(f"\n{ok} ok, {fail} failing, spark {spark_total:.1f} s")
    spark.stop()
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
