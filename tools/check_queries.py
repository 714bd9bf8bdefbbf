#!/usr/bin/env python
"""Local mimic of the driver's correctness gate.

Runs every declared query from ``__spark_entry__.queries()`` at sf0.01 on
Spark, runs the matching ``oracle_sql()`` in DuckDB over the same parquet
tables, and compares row-count + column names + values (order-insensitive).

Usage:
    python tools/check_queries.py              # all queries
    python tools/check_queries.py q05 n03      # substring-filtered subset
    SPARK_GRAFT_CHECK_SF=/root/testdata/sf0.001 python tools/check_queries.py
    python tools/check_queries.py --json out.json   # machine-readable artifact

``--json`` writes a driver-CORRECTNESS-shaped artifact (one object per
query: rows_match / schema_match / hash_match / spark_rows / oracle_rows /
err, plus a ``_meta`` header with the sf dir and totals) so the round-end
sf0.1 full-registry gate is a committed, re-readable artifact rather than
session-log prose (VERDICT r14 #3) — the ritual is::

    SPARK_GRAFT_CHECK_SF=/root/testdata/sf0.1 \\
        python tools/check_queries.py --json CORRECTNESS_SF01_r{N}.json
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_bom_radiation_spark.queries import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")


def duck_connection(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, then rows by all columns, reset index."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"columns differ: spark={sorted(got.columns)} duck={sorted(want.columns)}")
        return problems
    # dtype parity: a stricter driver could hash typed values, so flag
    # Spark-vs-DuckDB width/kind mismatches (int32 vs int64, etc.)
    for col in sorted(got.columns):
        g_k = got[col].dtype.kind
        w_k = want[col].dtype.kind
        if (g_k, got[col].dtype.itemsize) != (w_k, want[col].dtype.itemsize):
            problems.append(
                f"dtype differs for {col!r}: spark={got[col].dtype} duck={want[col].dtype}"
            )
    if len(got) != len(want):
        problems.append(f"row count differs: spark={len(got)} duck={len(want)}")
        return problems
    g, w = normalize(got), normalize(want)
    for col in g.columns:
        gv, wv = g[col], w[col]
        mism = 0
        first = None
        for a, b in zip(gv.tolist(), wv.tolist()):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                if a != b:
                    mism += 1
                    if first is None:
                        first = (a, b, abs(a - b))
            elif a != b:
                mism += 1
                if first is None:
                    first = (a, b, None)
        if mism:
            problems.append(f"col {col!r}: {mism} value mismatches, first={first}")
    return problems


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args) or not args[i + 1].endswith(".json"):
            raise SystemExit(
                "--json requires an output path ending in .json "
                "(guards against eating a query filter as the filename)"
            )
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    filters = args
    import __spark_entry__ as entrymod
    from etl_bom_radiation_spark.session import get_spark

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [n for n in qs if not filters or any(f in n for f in filters)]
    print(f"checking {len(names)} queries at {SF_DIR}")

    spark = get_spark(app_name="check-queries")
    con = duck_connection()

    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        # "status" is the unambiguous per-query outcome (ADVICE r15: a
        # consumer counting non-null err must not read the contractual
        # rows-only entries as failures); "err" keeps the driver-
        # CORRECTNESS shape, where "no_oracle" marks rows-only and
        # "spark:/duckdb: ..." mark real engine exceptions.
        rec = {
            "status": None,
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        results[name] = rec
        try:
            got = qs[name](spark, SF_DIR).toPandas()
            rec["spark_rows"] = len(got)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            rec["err"] = f"spark: {type(e).__name__}"
            rec["status"] = "fail"
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS  {name}: rows={len(got)} (no oracle) [{time.time()-t0:.1f}s]")
            rec["err"] = "no_oracle"
            rec["status"] = "rows_only"
            n_rows_only += 1
            continue
        try:
            want = con.execute(sql).df()
            rec["oracle_rows"] = len(want)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            rec["err"] = f"duckdb: {type(e).__name__}"
            rec["status"] = "fail"
            n_fail += 1
            continue
        problems = compare(name, got, want)
        rec["schema_match"] = not any(p.startswith("columns differ") for p in problems)
        rec["rows_match"] = len(got) == len(want)
        rec["hash_match"] = problems == []
        if problems:
            n_fail += 1
            rec["status"] = "fail"
            print(f"FAIL  {name}: [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            n_pass += 1
            rec["status"] = "pass"
            print(f"PASS  {name}: rows={len(got)} [{time.time()-t0:.1f}s]")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if json_out:
        import json

        payload = {
            "_meta": {
                "sf_dir": SF_DIR,
                "queries": len(names),
                "pass": n_pass,
                "fail": n_fail,
                "rows_only": n_rows_only,
            }
        }
        payload.update(results)
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
