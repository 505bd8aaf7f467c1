"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares against the matching
``oracle_sql()`` through DuckDB: row count, sorted column names, and
order-insensitive value comparison (columns sorted by name, rows sorted by
stringified values) — the same contract CORRECTNESS_r{N}.json records.

Usage: python tools/check_correctness.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "events", "documents", "embeddings",
]


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style value hash needs exact agreement; repr at full precision
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from entity_matchers_spark.session import get_spark

    # No console progress bar: it ends in '\r', not '\n', so the next
    # PASS/FAIL line would share its line and vanish from a filtered log.
    spark = get_spark(
        app_name="correctness-check",
        master="local[8]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"create view {t} as select * from '{path}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            results[name] = f"SPARK ERROR: {e}"
            continue
        if name not in oracles:
            results[name] = f"rows-only: {len(srows)} rows"
            continue
        try:
            orel = con.sql(oracles[name])
            ocols = orel.columns
            orows = orel.fetchall()
        except Exception as e:  # noqa: BLE001
            results[name] = f"ORACLE ERROR: {e}"
            continue
        sc, sr = canon_rows(scols, srows)
        oc, orr = canon_rows(ocols, orows)
        if sc != oc:
            results[name] = f"SCHEMA MISMATCH spark={sc} oracle={oc}"
        elif len(sr) != len(orr):
            results[name] = f"ROWCOUNT MISMATCH spark={len(sr)} oracle={len(orr)}"
        elif sr != orr:
            diff = next((i, a, b) for i, (a, b) in enumerate(zip(sr, orr)) if a != b)
            results[name] = f"VALUE MISMATCH at sorted-row {diff[0]}:\n  spark : {diff[1]}\n  oracle: {diff[2]}"
        else:
            results[name] = f"OK ({len(sr)} rows)"

    width = max(len(n) for n in results) if results else 0
    fails = 0
    for name, res in results.items():
        ok = res.startswith("OK") or res.startswith("rows-only")
        fails += 0 if ok else 1
        print(f"{'PASS' if ok else 'FAIL'}  {name:<{width}}  {res}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
