"""Generate a larger synthetic fixture decade by key-shifted replication.

The driver ships fixtures up to sf0.1; the scaling sweep (SCALING.md)
needs one more decade to show the worst-ratio queries' curves when DATA,
not fixed overhead, dominates (round-5 verdict next-#4). This tool
builds sf1 (10x sf0.1: 6M lineitem / 1.5M orders / 1M events) under
.scaling/sf1 in the checkout — never touching the source fixtures — by stamping
10 key-shifted replicas of every sf0.1 table:

- keys shift by replica*10^9 per key family, preserving referential
  integrity (orders->customer, lineitem->orders/part/supplier,
  events.user_id) and key-cardinality growth (10x rows = 10x distinct
  keys, like a real TPC-H decade);
- nation/region stay fixed (dimension tables don't grow with sf);
- document TEXT gets a per-replica word suffix so replicas share no
  vocabulary: dedup/text operators see 10x corpus with the SAME
  within-replica near-dup structure instead of 10 exact copies of
  every document (which would measure an artificial pair explosion,
  not the operator's scaling);
- embeddings keep their vectors but shift vec_id (cosine structure per
  replica identical; labels unchanged);
- events keep the SAME time range (a busier stream, not a longer one)
  with shifted event_id/user_id.

Only used for performance measurement — correctness gates stay on the
driver-generated /root/testdata fixtures.

Usage: python tools/gen_scale.py [src_sf_dir] [dst_dir] [multiplier]
       defaults: the sf0.1 driver fixture, .scaling/sf1 in the checkout, 10
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIFT = 10**9  # key shift per replica — far above any sf0.1 key


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".scaling", "sf1")
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE reps AS SELECT unnest(range({mult})) AS i")

    def gen(table: str, select: str, straight: bool = False) -> None:
        src_p = f"{src}/{table}.parquet"
        dst_p = f"{dst}/{table}.parquet"
        q = (
            f"SELECT * FROM read_parquet('{src_p}')"
            if straight
            else f"SELECT {select} FROM read_parquet('{src_p}') t CROSS JOIN reps r"
        )
        con.execute(f"COPY ({q}) TO '{dst_p}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{dst_p}')").fetchone()[0]
        print(f"{table}: {n} rows")

    gen("region", "", straight=True)
    gen("nation", "", straight=True)
    # entity NAMES get a per-replica suffix: real TPC-H names are all
    # distinct at every sf, and exact replicas would inflate any
    # name-keyed bucket (fuzzy dedup's deletion signatures, lookalikes)
    # by 10x the same value → a 100x pair count that measures the DATA
    # artifact, not the operator (observed: dedup_fuzzy_names r100 = 44
    # on the replica-name fixture, 10 distance-0 copies per name).
    def suffixed(col: str) -> str:
        return (
            f"CASE WHEN r.i = 0 THEN t.{col} "
            f"ELSE t.{col} || '-' || CAST(r.i AS VARCHAR) END AS {col}"
        )

    gen(
        "customer",
        f"t.c_custkey + r.i * {SHIFT} AS c_custkey, {suffixed('c_name')}, "
        "t.c_nationkey, t.c_acctbal, t.c_mktsegment",
    )
    gen(
        "supplier",
        f"t.s_suppkey + r.i * {SHIFT} AS s_suppkey, {suffixed('s_name')}, "
        "t.s_nationkey, t.s_acctbal",
    )
    gen(
        "part",
        f"t.p_partkey + r.i * {SHIFT} AS p_partkey, {suffixed('p_name')}, "
        "t.p_brand, t.p_type, t.p_size, t.p_retailprice",
    )
    gen(
        "orders",
        f"t.o_orderkey + r.i * {SHIFT} AS o_orderkey, "
        f"t.o_custkey + r.i * {SHIFT} AS o_custkey, "
        "t.o_orderstatus, t.o_totalprice, t.o_orderdate, t.o_orderpriority",
    )
    gen(
        "lineitem",
        f"t.l_orderkey + r.i * {SHIFT} AS l_orderkey, "
        f"t.l_partkey + r.i * {SHIFT} AS l_partkey, "
        f"t.l_suppkey + r.i * {SHIFT} AS l_suppkey, "
        "t.l_linenumber, t.l_quantity, t.l_extendedprice, t.l_discount, "
        "t.l_tax, t.l_returnflag, t.l_linestatus, t.l_shipdate",
    )
    gen(
        "events",
        f"t.event_id + r.i * {SHIFT} AS event_id, t.ts, "
        f"t.user_id + r.i * {SHIFT} AS user_id, t.event_type, t.value, t.props",
    )
    gen(
        "documents",
        f"t.doc_id + r.i * {SHIFT} AS doc_id, "
        "CASE WHEN r.i = 0 THEN t.text ELSE "
        "regexp_replace(t.text, '([a-zA-Z]+)', '\\1x' || CAST(r.i AS VARCHAR), 'g') "
        "END AS text, t.lang, t.source, "
        "CASE WHEN r.i = 0 THEN t.n_chars ELSE "
        "CAST(length(regexp_replace(t.text, '([a-zA-Z]+)', '\\1x' || CAST(r.i AS VARCHAR), 'g')) AS BIGINT) "
        "END AS n_chars",
    )
    gen(
        "embeddings",
        f"t.vec_id + r.i * {SHIFT} AS vec_id, t.embedding, t.label",
    )
    print(f"wrote {dst} (x{mult} of {src})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
