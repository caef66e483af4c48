"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, column names, and
an order-insensitive value hash (floats rounded to 9 significant-ish
decimals before hashing to absorb summation-order noise).

Usage: python tools/verify_local.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    import __spark_entry__ as entrymod
    from distributed_mobility_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify_local")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok_rows = len(srows) == len(drows)
        ok_cols = sorted(c.lower() for c in scols) == sorted(dcols)
        sh = table_hash([c.lower() for c in scols], srows)
        dh = table_hash(dcols, drows)
        ok_hash = sh == dh
        status = "PASS" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "PASS":
            n_pass += 1
        else:
            n_fail += 1
        print(
            f"{status} {name}: rows {len(srows)}/{len(drows)} "
            f"cols={'ok' if ok_cols else sorted(scols)+['|']+sorted(dcols)} "
            f"hash={'ok' if ok_hash else sh[:8]+'!='+dh[:8]} ({time.time()-t0:.1f}s)"
        )
        if status == "FAIL" and ok_cols and not ok_hash:
            # print a few mismatching lines for debugging
            order_s = sorted(range(len(scols)), key=lambda i: scols[i].lower())
            order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
            ls = sorted("\x1f".join(_norm(r[i]) for i in order_s) for r in srows)
            ld = sorted("\x1f".join(_norm(r[i]) for i in order_d) for r in drows)
            diff = [
                (a, b) for a, b in zip(ls, ld) if a != b
            ][:3]
            for a, b in diff:
                print(f"   spark: {a.replace(chr(31), ' | ')}")
                print(f"   duck : {b.replace(chr(31), ' | ')}")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
