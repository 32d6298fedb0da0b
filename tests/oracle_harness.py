"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() twin on DuckDB over the same parquet, compare
row count, schema (column names), and order-insensitive values.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connect(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # NO -0.0 collapse: the driver's gate distinguishes -0.0 from 0.0
        # (round-1 vector_topk hash-fail), so queries must normalize it
        # themselves on both sides
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if v is None:
        return "NULL"
    return str(v)


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    return sorted(out)


def compare(name: str, spark, sf_dir: str, verbose: bool = True) -> bool:
    # lookup_* resolve every registered surface, suite members too, so
    # any member can be attested standalone by name
    from pdf_brain_spark.queries import lookup_oracle, lookup_query

    q = lookup_query(name)
    sql = lookup_oracle(name)
    sdf = q(spark, sf_dir)
    # toPandas, not collect(): the driver's gate compares pandas-to-pandas,
    # so NULL float -> NaN and NULL timestamp -> NaT on BOTH sides
    spdf = sdf.toPandas()
    srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
    scols = list(spdf.columns)
    con = duck_connect(sf_dir)
    # go through pandas, not fetchall(): the driver's gate does, and the
    # dtype coercions differ (DuckDB HUGEINT -> float64 in pandas but
    # Python int via fetchall) — round 1's dedup_simhash hash-fail was
    # invisible locally for exactly this reason
    ddf = con.execute(sql).df()
    dcols = list(ddf.columns)
    drows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
    ok = True
    if sorted(scols) != sorted(dcols):
        print(f"{name}: SCHEMA MISMATCH spark={sorted(scols)} duck={sorted(dcols)}")
        ok = False
    if len(srows) != len(drows):
        print(f"{name}: ROWCOUNT MISMATCH spark={len(srows)} duck={len(drows)}")
        ok = False
    if ok:
        sn = _normalize([tuple(r) for r in srows], scols)
        dn = _normalize(drows, dcols)
        if sn != dn:
            print(f"{name}: VALUE MISMATCH")
            for a, b in list(zip(sn, dn))[:5]:
                if a != b:
                    print("  spark:", a)
                    print("  duck :", b)
            ok = False
    if ok and verbose:
        print(f"{name}: OK ({len(srows)} rows)")
    return ok


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or None
    from pdf_brain_spark.queries import GATE_WINDOW, get_queries
    from pdf_brain_spark.session import get_spark

    # `--window` = run exactly the 50 gates the driver's correctness
    # harness will verify (the pre-driver flake/regression check).
    # Positional, not sole-arg (ADVICE r13): `--window extra_gate` runs
    # the window PLUS the named extras instead of silently treating
    # "--window" as a gate name and failing lookup.
    if names and "--window" in names:
        extras = [n for n in names if n != "--window"]
        names = list(GATE_WINDOW) + [n for n in extras if n not in GATE_WINDOW]

    spark = get_spark("oracle_harness")
    all_ok = True
    for name in names or get_queries():
        try:
            if not compare(name, spark, sf_dir):
                all_ok = False
        except Exception as e:
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            all_ok = False
    print("ALL OK" if all_ok else "FAILURES PRESENT")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
