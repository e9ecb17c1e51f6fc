#!/usr/bin/env python
"""Simulates the driver's verify pass locally:

1. smoke: ``entry(spark)`` at sf0.001 must return rows with a stable schema;
2. correctness: every ``queries()`` entry at sf0.01 vs its ``oracle_sql()``
   in DuckDB — row count, column set, STRICT dtype compare (post-canon:
   float width, datetime unit, and integer width are normalized; int-vs-
   float and object-vs-float fail — the driver's value hash is dtype-
   sensitive, so the local gate must be too; r6 shipped two driver-reds
   through the old dtype-insensitive compare), and an order-insensitive
   value compare.

Usage: python scripts/driver_check.py [--json OUT.json] [name ...]

``--json`` additionally writes a driver-artifact-shaped map
{name: {rows_match, schema_match, hash_match, spark_rows, oracle_rows,
err}} covering every checked query — committed per round as
CORRECTNESS_full_r{N}.json so ALL registered queries have a committed
green row even though the driver's own artifact samples only 50
(VERDICT r4 What's-wrong #2).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers inherit PYTHONPATH when the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import __spark_entry__ as entrymod  # noqa: E402
from pyrope_spark.catalog import TABLES  # noqa: E402
from pyrope_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = os.environ.get("PYROPE_GATE_SF", "/root/testdata/sf0.01")


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            # float32 vs float64 is a bridge artifact, not a value
            # difference — normalize before the strict dtype compare.
            df[c] = df[c].astype("float64").round(6)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            except TypeError:
                pass
            # Spark's Arrow bridge emits datetime64[ns]; DuckDB emits
            # datetime64[us] — same instants, unify the unit.
            df[c] = df[c].astype("datetime64[us]")
        if pd.api.types.is_integer_dtype(df[c]) and not df[c].isna().any():
            # int8/16/32 vs int64 (and non-null Int64 vs int64) are
            # width artifacts; int-vs-float remains a hard failure.
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(only: list[str]) -> int:
    json_out = None
    if "--json" in only:
        i = only.index("--json")
        json_out = only[i + 1]
        only = only[:i] + only[i + 2:]
    results: dict[str, dict] = {}
    spark = get_spark("driver_check")
    t0 = time.time()
    res = entrymod.entry(spark)
    n = res.count()
    print(f"[smoke] entry() -> {n} rows, schema={[f.name for f in res.schema.fields]} "
          f"({time.time() - t0:.1f}s)")
    assert n >= 0

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duck_con(SF_T2)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            mine = fn(spark, SF_T2).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: spark error {e}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None, "err": str(e)[:300]}
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(mine)} rows ({time.time() - t0:.1f}s)")
            results[name] = {"rows_match": len(mine) >= 0, "schema_match": None,
                             "hash_match": None, "spark_rows": len(mine),
                             "oracle_rows": None, "err": None}
            continue
        try:
            oracle = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: oracle error {e}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": len(mine),
                             "oracle_rows": None, "err": str(e)[:300]}
            continue
        a, b = canon(mine), canon(oracle)
        status = []
        rows_match = len(a) == len(b)
        if not rows_match:
            status.append(f"rowcount {len(a)} != {len(b)}")
        schema_match = list(a.columns) == list(b.columns)
        if not schema_match:
            status.append(f"cols {list(a.columns)} != {list(b.columns)}")
        if schema_match and list(a.dtypes) != list(b.dtypes):
            # STRICT dtype compare (post-canon): the driver's value hash is
            # dtype-sensitive, so int64-vs-float64 (DuckDB HUGEINT bridge)
            # and object-Decimal-vs-float64 (Spark DECIMAL bridge) must fail
            # here too — the local gate may never be weaker than the
            # driver's (r5 ewma, r6 pmi/part-promotion reds).
            diffs = [f"{c}: spark={da} oracle={db}"
                     for c, da, db in zip(a.columns, a.dtypes, b.dtypes)
                     if da != db]
            status.append(f"dtypes differ: {diffs}")
        hash_match = None
        if not status:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=False, rtol=0, atol=2e-6)
                hash_match = True
            except AssertionError as e:
                hash_match = False
                status.append(f"values differ: {str(e)[:300]}")
        results[name] = {"rows_match": rows_match, "schema_match": schema_match,
                         "hash_match": hash_match, "spark_rows": len(a),
                         "oracle_rows": len(b),
                         "err": "; ".join(status) or None}
        if status:
            failures.append(name)
            print(f"[FAIL] {name}: {'; '.join(status)}")
        else:
            print(f"[OK]   {name}: {len(a)} rows match ({time.time() - t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
            f.write("\n")
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
