"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare row
count, schema (column names), and an order-insensitive value comparison
(columns sorted by name, rows sorted, values stringified). Each result
line ends with the query's Spark wall time (plan + ``toPandas()``); the
summary line gives the total.

Usage: python scripts/check_correctness.py [--strict] [sf_dir] [query ...]

``--strict`` stringifies values with repr() instead of %.6g — this
reproduces the driver's value-hash sensitivity (e.g. DuckDB HUGEINT sums
surfacing as float64 "7.0" vs Spark int64 "7"), so a strict pass implies
a driver hash_match.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(df_pandas, strict=False):
    df = df_pandas.reindex(sorted(df_pandas.columns), axis=1)
    rows = []
    for t in df.itertuples(index=False):
        vals = []
        for v in t:
            if v is None or v != v:
                vals.append("∅")
            elif isinstance(v, float):
                vals.append(repr(v) if strict else f"{v:.6g}")
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return sorted(rows), list(df.columns)


def main():
    argv = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as E
    from data_drift_monitoring_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    spark_s = 0.0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            sdf, spark_err = None, ex
        secs = time.perf_counter() - t0
        spark_s += secs
        took = f"  {secs:.2f} s"
        if sdf is None:
            failures.append((name, f"SPARK ERROR: {spark_err}"))
            print(f"[FAIL-spark] {name}: {spark_err}{took}")
            continue
        if name not in oracles:
            print(f"[rows-only ] {name}: {len(sdf)} rows{took}")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append((name, f"ORACLE ERROR: {ex}"))
            print(f"[FAIL-oracle] {name}: {ex}{took}")
            continue
        s_rows, s_cols = canon(sdf, strict=strict)
        o_rows, o_cols = canon(odf, strict=strict)
        if s_cols != o_cols:
            failures.append((name, f"schema {s_cols} vs {o_cols}"))
            print(f"[FAIL-schema] {name}: spark={s_cols} oracle={o_cols}{took}")
            continue
        if len(s_rows) != len(o_rows):
            failures.append((name, f"rows {len(s_rows)} vs {len(o_rows)}"))
            print(f"[FAIL-count] {name}: spark={len(s_rows)} oracle={len(o_rows)}{took}")
            continue
        if s_rows != o_rows:
            diff = [
                (a, b) for a, b in zip(s_rows, o_rows) if a != b
            ][:3]
            failures.append((name, f"values differ: {diff}"))
            print(f"[FAIL-values] {name}: first diffs {diff}{took}")
            continue
        print(f"[OK        ] {name}: {len(s_rows)} rows{took}")

    print(f"\n{len(failures)} failures  (Spark total {spark_s:.2f} s)")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
