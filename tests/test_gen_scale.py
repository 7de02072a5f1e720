"""tools/gen_scale.py fidelity: the synthetic scaling fixture must be a
faithful 10x of its source — identical parquet schemas, 10x (or equal,
for dimensions) row counts, shifted keys preserving referential
integrity, and per-replica-distinct entity names (the round-6 lesson:
replicated names inflate name-keyed buckets 10x and measure a data
artifact, not the operator). Skips when the fixture has not been
generated (it is gitignored; tools/gen_scale.py rebuilds it)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaling", "sf1")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
DIMS = {"region", "nation"}

pytestmark = pytest.mark.skipif(
    not os.path.isdir(DST), reason="sf1 fixture not generated (tools/gen_scale.py)"
)


def test_schemas_and_row_counts_match():
    for t in TABLES:
        a = pq.read_schema(f"{SRC}/{t}.parquet")
        b = pq.read_schema(f"{DST}/{t}.parquet")
        assert [(f.name, str(f.type)) for f in a] == [
            (f.name, str(f.type)) for f in b
        ], t
        na = pq.read_metadata(f"{SRC}/{t}.parquet").num_rows
        nb = pq.read_metadata(f"{DST}/{t}.parquet").num_rows
        assert nb == (na if t in DIMS else na * 10), t


def test_referential_integrity_and_distinct_names():
    import duckdb

    con = duckdb.connect()
    orphans = con.execute(
        f"""
        SELECT count(*) FROM read_parquet('{DST}/lineitem.parquet') l
        LEFT JOIN read_parquet('{DST}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL
        """
    ).fetchone()[0]
    assert orphans == 0
    o_orphans = con.execute(
        f"""
        SELECT count(*) FROM read_parquet('{DST}/orders.parquet') o
        LEFT JOIN read_parquet('{DST}/customer.parquet') c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
        """
    ).fetchone()[0]
    assert o_orphans == 0
    n, d = con.execute(
        f"SELECT count(*), count(DISTINCT c_name) FROM read_parquet('{DST}/customer.parquet')"
    ).fetchone()
    assert n == d, "replica customer names must be distinct"
