"""Replicate the round driver's correctness gate locally: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin
side-by-side at a given sf dir, compare row count / sorted-column
schema / values exactly.

Usage: python scripts/verify_gate.py [sf_dir] [entry ...]
"""

from __future__ import annotations

import datetime
import decimal
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None

    import __spark_entry__ as E
    from bm25spark.session import get_spark

    # SPARK_GRAFT_CPUS if set, else every CPU of this machine — never
    # more Spark task threads than cores
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = get_spark("verify-gate", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    # trained-parameter oracles (IVF centroids) must train on the
    # same sf dir the Spark entries run at
    os.environ["BM25SPARK_GATE_SF_DIR"] = sf
    qs, osql = E.queries(), E.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf)
            scols = sorted(sdf.columns)
            sv = [tuple(_norm(r[c]) for c in scols) for r in sdf.collect()]
            if name not in osql:
                print(f"{name:32s} rows={len(sv):6d}  (no oracle: rows-only)")
                continue
            cur = con.execute(osql[name])
            desc = [d[0] for d in cur.description]
            ocols = sorted(desc)
            ov = [
                tuple(_norm(row[desc.index(c)]) for c in ocols)
                for row in cur.fetchall()
            ]
            ok = (len(sv) == len(ov), scols == ocols, sv == ov)
            n_fail += 0 if all(ok) else 1
            tag = "MATCH" if all(ok) else f"FAIL rows={ok[0]} schema={ok[1]} vals={ok[2]}"
            print(f"{name:32s} rows={len(sv):6d}/{len(ov):6d}  {tag}")
            if not all(ok) and len(sv) == len(ov):
                for a, b in list(zip(sv, ov)):
                    if a != b:
                        print(f"    spark : {a}\n    oracle: {b}")
                        break
                if scols != ocols:
                    print(f"    cols spark={scols} oracle={ocols}")
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"{name:32s} ERROR {type(e).__name__}: {str(e)[:300]}")
    print(f"\n{'ALL MATCH' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
