"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB
over the same sf dir; compare row count, column names, and an
order-insensitive value hash.  Usage: python tools/check_gate.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()


def _norm(v):
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(v)


def oracle_connection(sf_dir: str):
    """DuckDB connection with one view per fixture table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare(spark, con, sf_dir: str, fn, oracle: str | None) -> dict:
    """One gate: collect ``fn(spark, sf_dir)`` on Spark, run ``oracle`` on
    DuckDB, compare row count, column names and value hash.  → ``ok``
    plus ``error`` or the per-check results (``rows``/``oracle_rows``,
    ``schema``, ``hash``, a few rows found on one side only); with no
    oracle only the Spark side runs (``oracle_rows`` is None)."""
    try:
        df = fn(spark, sf_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
    except Exception as e:  # noqa: BLE001
        return {"ok": False, "error": f"SPARK ERROR {e}"}
    if oracle is None:
        return {"ok": True, "rows": len(rows), "oracle_rows": None}
    try:
        o = con.sql(oracle)
        ocols = list(o.columns)
        orows = o.fetchall()
    except Exception as e:  # noqa: BLE001
        return {"ok": False, "error": f"DUCKDB ERROR {e}"}
    res = {"rows": len(rows), "oracle_rows": len(orows),
           "schema": sorted(cols) == sorted(ocols)}
    res["hash"] = res["schema"] and value_hash(rows, cols) == value_hash(orows, ocols)
    res["ok"] = res["rows"] == res["oracle_rows"] and res["hash"]
    if res["schema"] and not res["hash"]:
        s = {tuple(_norm(v) for v in r) for r in rows}
        d = {tuple(_norm(v) for v in r) for r in orows}
        res["only_spark"], res["only_oracle"] = list(s - d)[:3], list(d - s)[:3]
    return res


def main(sf_dir: str, only: list[str] | None = None):
    # the tile_merge oracle embeds a remap computed from the SAME dir
    # the Spark queries run on — point it at ours before building oracles
    os.environ["SPARK_GRAFT_CORRECTNESS_DIR"] = sf_dir

    import __spark_entry__ as entry
    from mapsplit_spark.session import get_spark

    spark = get_spark("gate-check", cores=8, shuffle_partitions=16)
    con = oracle_connection(sf_dir)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        r = compare(spark, con, sf_dir, fn, oracles.get(name))
        if "error" in r:
            failures.append((name, r["error"]))
            print(f"{name:24s} {r['error']}")
            continue
        if r["oracle_rows"] is None:
            print(f"{name:24s} rows={r['rows']:7d}  (rows-only check, no oracle)")
            continue
        status = "OK " if r["ok"] else "FAIL"
        print(
            f"{name:24s} {status} rows={r['rows']:7d}/{r['oracle_rows']:7d} "
            f"schema={'Y' if r['schema'] else 'N'} hash={'Y' if r['hash'] else 'N'} "
            f"({time.time() - t0:.1f}s)"
        )
        if not r["ok"]:
            failures.append((name, f"count={r['rows'] == r['oracle_rows']} "
                                   f"schema={r['schema']} hash={r['hash']}"))
            if "only_spark" in r:
                print("   only-spark:", r["only_spark"])
                print("   only-duck :", r["only_oracle"])
    spark.stop()
    if failures:
        print("\nFAILURES:", failures)
        sys.exit(1)
    print("\nALL MATCH")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
         sys.argv[2:] or None)
