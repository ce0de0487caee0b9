"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry AND its oracle_sql() through DuckDB on the
same parquet, compare row count + column names + order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ["events"]


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "item"):
        v = v.item()
        return canon(v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # fail FAST on unknown names (and flag-style invocations like
    # `--only a,b`): an only-set matching nothing would otherwise check
    # zero queries and still print a vacuous "all checked queries match"
    import __spark_entry__ as entrymod_check

    registered = set(entrymod_check.queries())
    unknown = only - registered
    if unknown:
        sys.exit(
            f"unknown query name(s) {sorted(unknown)} — usage: "
            f"check_oracles.py [sf_dir] [query ...] (positional, no flags); "
            f"registered gates: {len(registered)}"
        )
    if not os.path.isdir(sf_dir):
        sys.exit(f"sf_dir {sf_dir!r} is not a directory — usage: "
                 f"check_oracles.py [sf_dir] [query ...]")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("check-oracles")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            # Spark-written tables are directories of part files
            pat = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        import time

        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue

        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns differ spark={sorted(scols)} duck={sorted(ocols)}")
            failures.append(name)
            continue
        sn, on = norm_rows(scols, srows), norm_rows(ocols, orows)
        if len(sn) != len(on):
            print(f"FAIL  {name}: row count spark={len(sn)} duck={len(on)}")
            for a in sn[:3]:
                print("   spark:", a)
            for b in on[:3]:
                print("   duck: ", b)
            failures.append(name)
        elif sn != on:
            diffs = [(a, b) for a, b in zip(sn, on) if a != b]
            print(f"FAIL  {name}: {len(diffs)} value mismatches; first: {diffs[0]}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(sn)} rows match [{time.time()-t0:.1f}s]")

    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all checked queries match")


if __name__ == "__main__":
    main()
