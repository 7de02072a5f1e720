"""Driver-contract guards: catch interface drift in CI, cheaply.

- Every oracle key has a query (and the rows-only set is exactly the
  two documented exceptions).
- Column-name parity per query: the Spark result schema (analysis only,
  no execution) must equal the oracle's DuckDB schema (LIMIT 0) — the
  driver hash-compares by sorted column name, so an alias drift fails
  the gate even when values match. This runs in seconds; full value
  parity lives in tools/parity_check.py.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from django_indexer_spark.plans.fixture_queries import QUERIES
from django_indexer_spark.plans.oracles import ORACLES

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def test_every_query_has_an_oracle():
    # round 6: the last two rows-only queries (o5_seeded_sample,
    # a3_approx_distinct) were redesigned to be hash-checkable — the
    # registry is now 100% oracle-gated, and any future rows-only
    # addition must be a deliberate decision that updates this test.
    assert set(QUERIES) - set(ORACLES) == set()
    assert set(ORACLES) - set(QUERIES) == set()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def test_column_names_match_oracles_and_no_complex_outputs(spark, duck):
    """One build of every registry DataFrame checks BOTH gate rules:
    - column-name parity with the DuckDB oracle (the driver hash-compares
      by sorted column name);
    - no array/struct/map/binary output columns anywhere in the registry
      (round-4 verdict #2: the driver's pandas canonicalizer cannot
      sort/hash complex cells, so such a query can never earn a green
      row — j2_prefetch_array's one driver attempt died exactly this way).
    Built once, checked twice: some builders are eager (the streaming
    gate runs its micro-batches), so a second full-registry build would
    double CI cost for no coverage."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    mismatches = []
    complex_cols = []
    for name, fn in QUERIES.items():
        df = fn(spark, SF_DIR)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType, BinaryType)):
                complex_cols.append((name, f.name, f.dataType.simpleString()))
        if name not in ORACLES:
            continue
        spark_cols = sorted(df.columns)
        duck_cols = sorted(
            d[0]
            for d in duck.execute(
                f"SELECT * FROM ({ORACLES[name]}) LIMIT 0"
            ).description
        )
        if spark_cols != duck_cols:
            mismatches.append((name, spark_cols, duck_cols))
    assert not mismatches, mismatches
    assert not complex_cols, f"complex-typed gate outputs: {complex_cols}"


def test_bench_emits_valid_json_line(tmp_path):
    import json
    import os
    import subprocess
    import sys

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        # keep the test's sf0.001 detail out of the committed r{N} file
        SPARK_GRAFT_BENCH_DETAIL=str(tmp_path / "bench_detail.json"),
    )
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")], capture_output=True, text=True,
        env=env,
        # 900 s: the registry reached 246 queries (9 of them real
        # streaming micro-batch runs) and this test shares the machine
        # with four parallel pytest batches — 480 s flaked at 246
        # (round 10) with zero queries failing
        timeout=900,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = r.stdout.strip().splitlines()[-1]
    # round-4 postmortem: the driver's tail capture truncated a ~5 KB
    # line and the round lost its bench number — the final line must
    # stay compact forever.
    assert len(line) <= 1536, f"bench line too long for driver capture: {len(line)}"
    out = json.loads(line)
    assert out["unit"] == "sec" and out["sf"] == 0.001
    # the compact line carries the top-10 slowest; the full per-query
    # map lives in the BENCH_DETAIL file it names (redirected to
    # tmp_path here via SPARK_GRAFT_BENCH_DETAIL).
    assert out["detail"] == "bench_detail.json"
    with open(tmp_path / "bench_detail.json") as f:
        detail = json.load(f)
    from bench import HEADLINE

    assert set(detail["queries"]) == set(HEADLINE)
    assert out["value"] == round(sum(detail["queries"].values()), 3)
    assert out["n_queries"] == len(HEADLINE)
    assert set(out["queries"]) <= set(detail["queries"])


def test_driver_rotation_order():
    """Driver-budget rotation (__spark_entry__._ordered): canary first,
    then names with NO driver row EVER (absolute priority, round-7
    verdict #1 — cheapest-first starved the expensive streaming gates),
    then forced re-checks awaiting a round>=8 green row, then the
    unchecked-or-changed block, then checked names stalest-first. The
    expected partition derives from _checked_names()/_ever_rowed()
    themselves (round-4 verdict #5: hardcoding the r3 set broke the
    suite the moment the driver dropped a new CORRECTNESS file)."""
    import __spark_entry__ as m

    names = list(m.queries())
    assert names[0] == "f1_eq_filter"
    assert set(names) == set(m.queries())  # no dupes/drops
    checked = m._checked_names()  # name -> newest green round
    ever = m._ever_rowed()
    changed = m._changed_since_verified()
    tail = names[1:]
    # never-driver-rowed names lead the tail, before everything else
    never = [n for n in tail if n not in ever]
    assert tail[: len(never)] == never, "never-rowed block not at front"
    # forced re-checks (no green row in a round >= 8 yet) come next
    forced = [
        n
        for n in tail[len(never):]
        if n in m._FORCE_RECHECK and checked.get(n, 0) < 8
    ]
    assert (
        tail[len(never): len(never) + len(forced)] == forced
    ), "forced block not directly behind never-rowed block"
    # then: unchecked-or-changed block, then checked stalest-first
    rest = tail[len(never) + len(forced):]
    flags = [n in checked and n not in changed for n in rest]
    first_checked = flags.index(True) if True in flags else len(flags)
    assert all(flags[first_checked:]), "checked block interrupted by unchecked name"
    assert not any(flags[:first_checked]), "unchecked block contains checked name"
    rounds = [checked[n] for n in rest[first_checked:]]
    assert rounds == sorted(rounds), "checked block not stalest-first"
    # oracles keep query ordering
    onames = [n for n in m.oracle_sql()]
    assert onames == [n for n in names if n in set(onames)]


def test_fingerprint_invalidation_fronts_changed_queries():
    """round-5 ADVICE: a green driver row must stop counting when the
    query's source fingerprint drifts from the recorded
    verified-at-HEAD value."""
    from django_indexer_spark.plans.query_fingerprint import (
        current_fingerprints,
        load_recorded,
        query_fingerprint,
    )

    cur = current_fingerprints()
    assert set(cur) == set(QUERIES)
    # the fingerprint must move when the oracle changes
    fn = QUERIES["f1_eq_filter"]
    assert query_fingerprint(fn, ORACLES["f1_eq_filter"]) != query_fingerprint(
        fn, ORACLES["f1_eq_filter"] + " -- changed"
    )
    # ... when a module the query imports by dotted path changes
    # (``from ..streaming.phash_index import stream_phash``), and when a
    # module reached only through that module's relative imports changes
    # (``streaming/index_gate.py`` runs every micro-batch of dedup_index)
    from django_indexer_spark.plans import query_fingerprint as qf

    for name, module in (
        ("s_stream_phash_index", "phash_index"),
        ("s_stream_dedup_index", "index_gate"),
    ):
        fn, oracle = QUERIES[name], ORACLES[name]
        path = qf._module_files()[module][0]
        before, saved = query_fingerprint(fn, oracle), qf._file_hash(path)
        qf._FILE_HASHES[path] = "0" * 64
        try:
            assert query_fingerprint(fn, oracle) != before, name
        finally:
            qf._FILE_HASHES[path] = saved
    # the committed record matches HEAD for every name it contains that
    # parity_check verified (the file is refreshed on PASS; a mismatch
    # here means a query changed without re-running local parity)
    recorded = load_recorded()
    stale = {n for n, h in recorded.items() if n in cur and cur[n] != h}
    assert stale == set(), f"queries changed since last local parity: {stale}"


def test_checked_names_excludes_red_rows(tmp_path):
    """_checked_names must not count errored / hash-failed rows as
    checked (round-4 verdict #3): write a synthetic CORRECTNESS file and
    assert only the green row lands in the set."""
    import json as _json

    import __spark_entry__ as m

    rows = {
        "green_q": {"rows_match": True, "hash_match": True, "err": None},
        "err_q": {"rows_match": None, "hash_match": None, "err": "boom"},
        "hashfail_q": {"rows_match": True, "hash_match": False, "err": None},
        "schemafail_q": {
            "rows_match": True, "schema_match": False, "hash_match": None,
            "err": None,
        },
        "rowsonly_q": {
            "rows_match": None, "hash_match": None,
            "spark_rows": 3, "err": "no_oracle",
        },
        "rowsonly_dead_q": {
            "rows_match": None, "hash_match": None,
            "spark_rows": None, "err": "no_oracle",
        },
        "rowsfail_q": {"rows_match": False, "hash_match": None, "err": None},
        # a query that NOW HAS an oracle: its historical rows-only row
        # must stop counting (round 6 — o5/a3 redesigned to hash-check)
        "o5_seeded_sample": {
            "rows_match": None, "hash_match": None,
            "spark_rows": 1, "err": "no_oracle",
        },
    }
    (tmp_path / "CORRECTNESS_r09.json").write_text(_json.dumps(rows))
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        _json.dumps({"green_q": {"rows_match": True, "hash_match": True, "err": None}})
    )
    seen = m._checked_names(here=str(tmp_path))
    assert seen["green_q"] == 9  # NEWEST green round wins
    assert "rowsonly_q" in seen  # by-design rows-only stays checked
    assert "err_q" not in seen
    assert "hashfail_q" not in seen
    assert "schemafail_q" not in seen
    assert "rowsfail_q" not in seen
    assert "rowsonly_dead_q" not in seen
    assert "o5_seeded_sample" not in seen  # has an oracle now




def test_ts_top_paths_exact_one_hour_gap_cross_engine(spark, tmp_path):
    """Round-8 ADVICE regression: the ts_top_paths oracle previously broke
    sessions at gap >= 1h while the Spark side (windows.sessionize) cuts
    strictly at > 1h; the fixture has no exact one-hour gap, so the gate
    passed silently. Pin the boundary with a synthetic events table that
    HAS one: both engines must keep the exactly-1h interval in-session
    and produce identical trigram paths."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from django_indexer_spark.plans.fixture_queries import QUERIES, _TABLE_CACHE
    from django_indexer_spark.plans.oracles import ORACLES

    base = 1_700_000_000_000_000  # µs
    mins = lambda m: base + m * 60_000_000
    rows = [
        # user 1: a --60min(EXACT)-- b --10-- c --10-- d  → one session
        (1, mins(0), 1, "a"), (2, mins(60), 1, "b"),
        (3, mins(70), 1, "c"), (4, mins(80), 1, "d"),
        # user 2: e --61min-- f --10-- g --10-- h → split, one full trigram
        (5, mins(0), 2, "e"), (6, mins(61), 2, "f"),
        (7, mins(71), 2, "g"), (8, mins(81), 2, "h"),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([0.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    got = {
        (r["path"], r["n"])
        for r in QUERIES["ts_top_paths"](spark, str(tmp_path)).collect()
    }
    _TABLE_CACHE.clear()  # drop the tmp_path-keyed entries for other tests

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = {(r[0], r[1]) for r in con.execute(ORACLES["ts_top_paths"]).fetchall()}

    assert got == want
    # the exactly-1h gap stays IN-session: a>b>c and b>c>d both exist
    assert ("a>b>c", 1) in got and ("b>c>d", 1) in got
    # the 61-minute gap splits: no e-prefixed trigram, f>g>h survives
    assert ("f>g>h", 1) in got
    assert not any(p.startswith("e>") for p, _ in got)
