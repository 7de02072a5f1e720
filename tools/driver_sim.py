"""Simulate the driver's per-round correctness pass, exactly.

tools/parity_check.py verifies the full registry under the repo's TUNED
session (`session.get_spark`). The driver does NOT use that session —
its harness builds a vanilla `SparkSession` — and it only grades the
FIRST ~N names of `__spark_entry__.queries()`'s rotation order. This
tool replicates that pass: vanilla local session, rotation order, the
driver's pandas-level compare (sorted columns, canonical cell
rendering, order-insensitive rows — via parity_check's canon_cell).

Round-8 rationale: the four streaming gates earned their first driver
rows that round; a session-conf dependency (timezone, shuffle width,
noDataMicroBatches) would pass parity_check yet fail the driver. Run
this before the round ends whenever the rotation's front block changed.

Usage: python tools/driver_sim.py [n=50] [sf_dir=/root/testdata/sf0.01]
Exit 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as m
    from tools.parity_check import canon_cell

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    qs, os_ = m.queries(), m.oracle_sql()
    names = list(qs)[:n]
    fails: list[tuple] = []
    t0 = time.time()
    for name in names:
        try:
            sdf = qs[name](spark, sf).toPandas()
            if name not in os_:  # rows-only contract (non-SQL-expressible)
                print(f"SIM  {name}: rows-only, rows={len(sdf)}")
                continue
            odf = con.execute(os_[name]).df()

            def canon(df):
                df = df[sorted(df.columns)]
                return sorted(
                    tuple(canon_cell(v) for v in r)
                    for r in df.itertuples(index=False)
                )

            a, b = canon(sdf), canon(odf)
            ok = (
                len(a) == len(b)
                and sorted(sdf.columns) == sorted(odf.columns)
                and a == b
            )
            print(f"SIM  {name}: {'OK' if ok else 'FAIL'}")
            if not ok:
                fails.append((name, len(a), len(b)))
        except Exception as ex:  # the driver records err rows, we fail hard
            print(f"SIM  {name}: ERR {str(ex)[:120]}")
            fails.append((name, "ERR"))
    print(
        f"SUMMARY {len(names) - len(fails)}/{len(names)} pass, "
        f"fails={fails}, {time.time() - t0:.1f}s"
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
