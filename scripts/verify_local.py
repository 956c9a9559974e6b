"""Local mimic of the driver's correctness gate: run each queries()
entry in Spark and its oracle_sql() in DuckDB (views pre-registered on
the tables under SF_DIR), compare row count, column names, and an
order-insensitive value hash. Exits 0 only when every query run is
exact-ok. Usage: python scripts/verify_local.py [q...]
"""

import hashlib
import sys
import time
import traceback
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as E  # noqa: E402
from osm_sidewalkreator_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    only = set(sys.argv[1:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    qs = E.queries()
    oracles = E.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            spark_n = len(rows)
            spark_h = table_hash(rows, cols)
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            results[name] = "spark_error"
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception:
            print(f"FAIL  {name}: oracle error")
            traceback.print_exc()
            results[name] = "oracle_error"
            continue
        oh = table_hash(orows, ocols)
        ok = (spark_n == len(orows) and sorted(cols) == sorted(ocols)
              and spark_h == oh)
        status = "OK   " if ok else "MISMATCH"
        print(f"{status} {name}: spark={spark_n} oracle={len(orows)} "
              f"hash {spark_h} vs {oh} cols {sorted(cols)} vs "
              f"{sorted(ocols)} ({time.time()-t0:.1f}s)")
        results[name] = "ok" if ok else "mismatch"
    bad = {k: v for k, v in results.items() if v != "ok"}
    print(f"\n{len(results)} queries: {len(results) - len(bad)} exact-ok, "
          f"{len(bad)} bad: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
