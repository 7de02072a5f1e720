"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark AND its oracle_sql()
twin on DuckDB at the given sf dir, then compares THE WAY THE DRIVER
DOES — through pandas:
  - row count
  - schema (sorted column names)
  - per-column pandas dtype KIND (int vs float vs object...): the driver
    materializes Spark via toPandas() and DuckDB via .df(), so a DuckDB
    HUGEINT (sum of BIGINT) landing as float64 against Spark's int64
    hash-mismatches even when every value is equal (round-4 verdict #1).
  - complex-typed cells (list/ndarray/dict): the driver's canonicalizer
    cannot sort/hash them ("unhashable type: 'list'", round-4 verdict #2)
    → hard FAIL here.
  - order-insensitive values (columns sorted by name, rows sorted by the
    canonical string rendering of every cell) — STRICTER than a hash:
    shows the first differing rows on mismatch.

Usage: python tools/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import numpy as np
import pandas as pd

from django_indexer_spark.session import get_spark

_COMPLEX = (list, tuple, dict, set, np.ndarray)


def canon_cell(v) -> str:
    if v is None:
        return "∅"
    # pandas NA markers (NaT, pd.NA); NaN handled under float below
    if v is pd.NaT or v is getattr(pd, "NA", object()):
        return "∅"
    if isinstance(v, _COMPLEX):
        raise TypeError(f"complex-typed cell: {type(v).__name__}")
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return repr(f)  # full precision — bit-exactness required
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def pandas_canon(df: pd.DataFrame):
    """(sorted cols, dtype-kind per sorted col, sorted canon rows)."""
    cols = sorted(df.columns)
    kinds = [df[c].dtype.kind for c in cols]
    rows = [
        tuple(canon_cell(row[c]) for c in cols)
        for row in df.to_dict("records")
    ]
    rows.sort()
    return cols, kinds, rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = n_noracle = 0
    failures = []
    passed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(
                f"SKIP {name}: no oracle (rows-only), rows={len(spdf)} "
                f"[{time.time()-t0:.1f}s]"
            )
            n_noracle += 1
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            failures.append(name)
            continue

        problems = []
        if len(spdf) != len(ddf):
            problems.append(f"rowcount spark={len(spdf)} duckdb={len(ddf)}")
        if sorted(spdf.columns) != sorted(ddf.columns):
            problems.append(
                f"schema spark={sorted(spdf.columns)} duckdb={sorted(ddf.columns)}"
            )
        if not problems:
            try:
                s_cols, s_kinds, cs = pandas_canon(spdf)
            except TypeError as e:
                problems.append(f"spark output not driver-hashable: {e}")
                s_kinds = cs = None
            try:
                d_cols, d_kinds, cd = pandas_canon(ddf)
            except TypeError as e:
                problems.append(f"oracle output not driver-hashable: {e}")
                d_kinds = cd = None
            if s_kinds is not None and d_kinds is not None:
                # dtype-kind parity per column — the driver's hash is
                # dtype-sensitive, so int64 vs float64 fails even when
                # values are numerically equal. Empty frames can't
                # promote dtypes, so only check when both sides have rows.
                if len(spdf) and len(ddf):
                    for c, sk, dk in zip(s_cols, s_kinds, d_kinds):
                        if sk != dk:
                            problems.append(
                                f"dtype kind mismatch on {c!r}: "
                                f"spark={spdf[c].dtype} duckdb={ddf[c].dtype}"
                            )
                if not problems and cs != cd:
                    diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
                    problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
            failures.append(name)
        else:
            print(f"PASS {name}: rows={len(spdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
            passed.append(name)

    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    if passed:
        # record the verified-at source fingerprints: the rotation in
        # __spark_entry__ fronts any query whose fingerprint later
        # drifts from this record (round-5 ADVICE — driver green rows
        # from rounds that graded older code must not suppress
        # re-verification of changed implementations).
        from django_indexer_spark.plans.query_fingerprint import record

        record(passed)
        print(f"query_hashes.json refreshed for {len(passed)} passed queries")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
