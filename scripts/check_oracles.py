"""Driver-mimic: run every __spark_entry__ query on Spark AND its DuckDB
oracle on the same sf dir; compare row count, column names, and sorted
values. Run: python scripts/check_oracles.py [sf_dir]"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tiny_search_engine_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def compare(name, spark_rows, duck_rows, cols_s, cols_d) -> list[str]:
    errs = []
    if sorted(cols_s) != sorted(cols_d):
        errs.append(f"schema: spark={sorted(cols_s)} duck={sorted(cols_d)}")
        return errs
    if len(spark_rows) != len(duck_rows):
        errs.append(f"rows: spark={len(spark_rows)} duck={len(duck_rows)}")
    order = sorted(cols_s)
    s_sorted = sorted(
        [tuple(norm(r[c]) for c in order) for r in spark_rows], key=str
    )
    d_sorted = sorted(
        [tuple(norm(dict(zip(cols_d, r))[c]) for c in order) for r in duck_rows], key=str
    )
    mism = 0
    for a, b in zip(s_sorted, d_sorted):
        if a != b:
            if mism < 3:
                errs.append(f"value: {a} != {b}")
            mism += 1
    if mism:
        errs.append(f"total value mismatches: {mism}/{len(s_sorted)}")
    return errs


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    # data-dependent oracles (trained-codebook literals) must be
    # generated for the SAME sf dir this compare runs at
    os.environ["TSE_ORACLE_SF_DIR"] = sf_dir
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_rows = df.collect()
            cols_s = df.columns
        except Exception as e:
            print(f"[FAIL-SPARK] {name}: {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY] {name}: {len(spark_rows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            cols_d = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            duck_pd = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"[FAIL-DUCK] {name}: {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        errs = compare(name, spark_rows, duck_rows, cols_s, cols_d)
        # driver-mimic dtype check: the driver compares pandas frames, so a
        # DuckDB HUGEINT (SUM over ints -> float64 in fetchdf) vs a Spark
        # bigint hashes differently even when every value is equal. Compare
        # the *pandas* dtype kind on both sides (Spark toPandas converts
        # nullable-int-with-NULL to float64 exactly like DuckDB does, so
        # only genuine drift is flagged).
        try:
            spark_pd = df.toPandas()
        except Exception:
            spark_pd = None
        if spark_pd is not None:
            for c in duck_pd.columns:
                if c not in spark_pd.columns:
                    continue
                dk = duck_pd[c].dtype.kind
                sk = spark_pd[c].dtype.kind
                if {dk, sk} == {"i", "f"}:
                    errs.append(
                        f"dtype-kind drift on '{c}': spark={spark_pd[c].dtype} "
                        f"duck={duck_pd[c].dtype} — driver hash will differ"
                    )
        if errs:
            print(f"[MISMATCH] {name}:")
            for e in errs:
                print(f"    {e}")
            failed.append(name)
        else:
            print(f"[OK] {name}: {len(spark_rows)} rows")
    print("FAILED:" if failed else "ALL OK", ",".join(failed))
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
