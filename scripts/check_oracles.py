#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run every
queries()[name] on Spark at sf0.01 and the matching oracle_sql()[name]
on DuckDB over the same parquet, compare row count + schema (column
names) + order-insensitive value hash.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive hash: sort columns by name, normalize values,
    sort row strings, md5."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, float):
            return f"{v:.9g}"
        return str(v)

    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from sheep_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check_oracles", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name:26s} spark error: {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name:26s} rows={len(srows):7d} (rows-only, {time.time()-t0:.1f}s)")
            if len(srows) == 0 and name != "pages_extract_identity":
                print(f"WARN  {name:26s} zero rows")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name:26s} duckdb error: {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            hs, hd = value_hash(srows, scols), value_hash(drows, dcols)
            if hs != hd:
                problems.append(f"valuehash spark={hs[:10]} duck={hd[:10]}")
                so = sorted(
                    "|".join(str(x) for x in r) for r in srows
                )
                do = sorted("|".join(str(x) for x in r) for r in drows)
                diff = [(a, b) for a, b in zip(so, do) if a != b][:3]
                for a, b in diff:
                    problems.append(f"  spark: {a[:140]}")
                    problems.append(f"  duck : {b[:140]}")
        if problems:
            failures += 1
            print(f"FAIL  {name:26s} " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print("      " + p)
        else:
            print(f"OK    {name:26s} rows={len(srows):7d} ({time.time()-t0:.1f}s)")
    spark.stop()
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
