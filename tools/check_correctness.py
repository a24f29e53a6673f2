#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run each queries() entry
on Spark AND its oracle_sql() on DuckDB over the same parquet tables, then
compare row count, column names, and an order-insensitive value hash.

Usage:
    python tools/check_correctness.py                 # all queries, sf0.01
    python tools/check_correctness.py --sf /root/testdata/sf0.001 name1 name2
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def normalize_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\0"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v))
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        items = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(normalize_cell(x) for x in items) + "]"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def frame_hash(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    # Mirror the driver's canonicalizer, which sort_values-es the frame by
    # every column and therefore raises TypeError on array-typed cells.
    # Keeping this un-caught makes array-column outputs fail LOCALLY the
    # same way they fail at the gate (round-1 lesson: the old stringifying
    # hash hid two red rows).
    df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    rows = ["\x1f".join(normalize_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(df), cols, h


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--json", help="write per-query results to this JSON file")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from ohsome_planet_spark.plans.run import run_one
    from ohsome_planet_spark.session import get_spark

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.names or sorted(queries)

    spark = get_spark(app_name="check_correctness")

    # t1-style smoke: entry() must run and return a stable schema
    edf = entry_mod.entry(spark)
    n_entry = edf.count()
    print(f"entry(): {n_entry} rows, {len(edf.schema)} columns")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        path = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    n_fail = 0
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.perf_counter()
        rec = run_one(spark, name, queries[name], args.sf, action=lambda df: df.toPandas())
        if not rec.ok:
            err = rec.error.strip().splitlines()[-1]
            print(f"FAIL  {name}: spark error: {err}")
            results[name] = {"status": "spark_error", "error": err[:300]}
            n_fail += 1
            continue
        sdf = rec.result
        if name not in oracles:
            secs = round(time.perf_counter() - t0, 1)
            print(f"OK*   {name}: rows={len(sdf)} (no oracle — rows-only) [{secs}s]")
            results[name] = {"status": "rows_only", "rows": len(sdf), "secs": secs}
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            results[name] = {"status": "oracle_error", "error": str(e)[:300]}
            n_fail += 1
            continue
        sn, sc, sh = frame_hash(sdf)
        on, oc, oh = frame_hash(odf)
        secs = round(time.perf_counter() - t0, 1)
        status = "ok" if (sn, sc, sh) == (on, oc, oh) else "MISMATCH"
        results[name] = {"status": status, "rows": sn,
                         "spark_hash": sh, "duck_hash": oh, "secs": secs}
        if status == "ok":
            print(f"ok    {name}: rows={sn} [{secs}s]")
            continue
        n_fail += 1
        print(f"FAIL  {name}: spark=({sn} rows, {sc}) duck=({on} rows, {oc}) "
              f"hash {'=' if sh == oh else '!='} [{secs}s]")
        # show a diff sample
        s_rows = {"\x1f".join(normalize_cell(v) for v in r) for r in sdf[sorted(sdf.columns)].itertuples(index=False)}
        o_rows = {"\x1f".join(normalize_cell(v) for v in r) for r in odf[sorted(odf.columns)].itertuples(index=False)} if set(sdf.columns) == set(odf.columns) else set()
        for r in list(s_rows - o_rows)[:3]:
            print(f"      spark-only: {r[:220]}")
        for r in list(o_rows - s_rows)[:3]:
            print(f"      duck-only : {r[:220]}")
    print(f"\n{len(names) - n_fail}/{len(names)} passed")
    if args.json:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ).stdout.strip()
        with open(args.json, "w") as fh:
            json.dump(
                {
                    "sf": args.sf,
                    "git_head": head or None,
                    "n_pass": len(names) - n_fail,
                    "n_total": len(names),
                    "entry_rows": n_entry,
                    "queries": results,
                },
                fh, indent=1, sort_keys=True,
            )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
