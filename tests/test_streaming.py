"""End-to-end Structured Streaming ingest (SURVEY.md §2.9 T1/T2/T6).

Drives ``stream_ingest`` in availableNow mode against a real lake
directory of block JSON files and verifies:
  - the silver donations table materializes with merge semantics
    (last writer wins across micro-batch replays, T3);
  - checkpoint resume (T2): a second run with the same checkpoint
    processes only files added since, yet the silver tables keep the
    earlier state (the BlockHeight-singleton role,
    reference indexer_app/utils.py:1194-1203).
"""

from __future__ import annotations

import base64
import json
import os
import threading

import pytest

from django_indexer_spark.sources import silver
from django_indexer_spark.streaming.pipeline import ENTITY_PIPELINES, stream_ingest


def read_silver(spark, out: str, name: str):
    return silver.read_table(spark, os.path.join(out, name))


def b64(obj) -> str:
    return base64.b64encode(json.dumps(obj).encode()).decode()


def lake_message(height: int, donations: list[dict]) -> dict:
    """One StreamerMessage-shaped block carrying N donate receipts
    (shape: reference indexer_app/handler.py:46-98)."""
    outcomes = [
        {
            "receipt": {
                "receipt_id": f"r{height}_{i}",
                "predecessor_id": "pred.near",
                "receiver_id": "donate.potlock.near",
                "receipt": {
                    "Action": {
                        "signer_id": d["donor_id"],
                        "actions": [
                            {"FunctionCall": {"method_name": "donate", "args": b64({})}}
                        ],
                    }
                },
            },
            "execution_outcome": {
                "outcome": {"logs": [], "status": {"SuccessValue": b64(d)}}
            },
        }
        for i, d in enumerate(donations)
    ]
    return {
        "block": {
            "header": {"height": height, "timestamp": height * 10**9 + 1_700_000_000_000_000_000}
        },
        "shards": [{"shard_id": 0, "receipt_execution_outcomes": outcomes}],
    }


def donation(on_chain_id: int, donor: str, amount: str) -> dict:
    return {
        "id": on_chain_id,
        "donor_id": donor,
        "total_amount": amount,
        "protocol_fee": "0",
        "recipient_id": "charity.near",
        "donated_at_ms": 1_700_000_000_000 + on_chain_id,
    }


def write_block(lake_dir: str, height: int, donations: list[dict]) -> None:
    with open(os.path.join(lake_dir, f"block_{height}.json"), "w") as f:
        f.write(json.dumps(lake_message(height, donations)))


def drain(spark, lake, out, ckpt) -> None:
    q = stream_ingest(spark, lake, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "stream did not drain within 120s"


def test_stream_ingest_available_now_and_resume(spark, tmp_path):
    lake = str(tmp_path / "lake")
    out = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(lake)

    # batch 1: two blocks; donation #1 re-written at height 101 (replay /
    # update) and #2 appears once — last writer must win on the F11 key
    write_block(lake, 100, [donation(1, "alice.near", "100")])
    write_block(lake, 101, [donation(1, "alice.near", "150"), donation(2, "bob.near", "50")])
    drain(spark, lake, out, ckpt)

    donations = {
        r["on_chain_id"]: r.asDict()
        for r in read_silver(spark, out, "donations").collect()
    }
    assert set(donations) == {1, 2}
    assert donations[1]["total_amount"] == "150"  # height-101 writer won
    assert donations[1]["net_amount"] == "150"
    assert donations[2]["donor_id"] == "bob.near"

    accounts = {r["id"] for r in read_silver(spark, out, "accounts").collect()}
    assert {"alice.near", "bob.near", "charity.near"} <= accounts

    # batch 2: same checkpoint — only the new block is read; existing
    # silver rows survive and the new donation lands
    write_block(lake, 102, [donation(3, "carol.near", "75")])
    drain(spark, lake, out, ckpt)

    after = {
        r["on_chain_id"]: r.asDict()
        for r in read_silver(spark, out, "donations").collect()
    }
    assert set(after) == {1, 2, 3}
    assert after[1]["total_amount"] == "150"
    assert after[3]["donor_id"] == "carol.near"

    # ENTITY_PARTITIONS wiring: the donations silver table written by the
    # PIPELINE is date-partitioned (hive donated_date dirs inside bucket
    # versions, manifest records the column) and every row carries the
    # derived date
    import glob as _glob

    from django_indexer_spark.sources import silver as _silver

    m = _silver.read_manifest(f"{out}/donations")
    assert m["partition_col"] == "donated_date"
    versions = _silver.current_paths(f"{out}/donations", m)
    assert versions and all(_glob.glob(f"{v}/donated_date=*") for v in versions)
    assert all(r["donated_date"] is not None for r in after.values())


# ---------------------------------------------------------------------------
# sources.silver: incremental partition-scoped merge (VERDICT r1 top-next)
# ---------------------------------------------------------------------------


def _kv(spark, rows_):
    return spark.createDataFrame(rows_, "k string, v string, version long")


def test_silver_merge_rewrites_only_touched_buckets(spark, tmp_path):
    d = str(tmp_path / "t")
    silver.merge_batch(
        spark, d, _kv(spark, [(k, k, 1) for k in "abcdefgh"]), ["k"], "version",
        batch_id=1, n_buckets=8,
    )
    m1 = silver.read_manifest(d)
    assert len(m1["buckets"]) >= 2  # 8 keys spread over >1 bucket

    touched = silver.merge_batch(
        spark, d, _kv(spark, [("a", "A", 2)]), ["k"], "version",
        batch_id=2, n_buckets=8,
    )
    assert len(touched) == 1
    m2 = silver.read_manifest(d)
    # untouched buckets keep their v1 dirs verbatim — no rewrite happened
    for b, v in m1["buckets"].items():
        if int(b) != touched[0]:
            assert m2["buckets"][b] == v == 1
    assert m2["buckets"][str(touched[0])] == 2
    # superseded touched-bucket version is GC'd after publish
    assert not os.path.exists(silver.version_dir(d, touched[0], 1))
    # pre-write repartition coalesces each bucket version to ONE data file
    # (no tasks-x-buckets small-file fragmentation per trigger)
    v2_files = [
        f for f in os.listdir(silver.version_dir(d, touched[0], 2))
        if f.endswith(".parquet")
    ]
    assert len(v2_files) == 1, v2_files

    # the merge's existing-scan is bucket-pruned BY CONSTRUCTION: reading
    # the touched bucket lists only that bucket's files (this is the
    # "second micro-batch reads only touched partitions" guarantee)
    pruned = silver.read_table(spark, d, buckets=touched)
    files = pruned.inputFiles()
    assert files and all(f"{silver.version_dir(d, touched[0], 2)}/" in f for f in files)
    full = silver.read_table(spark, d)
    assert len(full.inputFiles()) > len(files)

    out = {r["k"]: (r["v"], r["version"]) for r in silver.read_table(spark, d).collect()}
    assert out["a"] == ("A", 2)
    assert all(out[k] == (k, 1) for k in "bcdefgh")


def test_silver_crash_before_publish_never_truncates(spark, tmp_path, monkeypatch):
    """A crash at each step of merge_batch — after the staged write,
    mid-rename of a two-bucket batch, at the publish, during GC, and in a
    replay of a batch that already published — leaves the manifest
    exactly the old or the new one, and the table reads fully as that
    state. Two replays then equal a clean run, and vacuum removes only
    the crash's debris."""
    import shutil

    batch1 = [(k, k, 1) for k in "abcdefgh"]  # buckets 0, 2 and 3 of 4
    batch2 = [("a", "A", 2), ("c", "C", 2)]  # buckets 0 and 2

    def merge(d, rows_, batch_id):
        return silver.merge_batch(
            spark, d, _kv(spark, rows_), ["k"], "version", batch_id=batch_id, n_buckets=4
        )

    def state(d):
        return sorted(map(tuple, silver.read_table(spark, d).collect()))

    def layout(d):
        return sorted(
            os.path.relpath(os.path.join(root, x), d) for root, dirs, _ in os.walk(d) for x in dirs
        )

    clean = str(tmp_path / "clean")
    merge(clean, batch1, 1)
    old, m_old = state(clean), silver.read_manifest(clean)
    assert merge(clean, batch2, 2) == [0, 2] and len(m_old["buckets"]) == 3
    new, m_new = state(clean), silver.read_manifest(clean)

    real_replace, real_rmtree = os.replace, shutil.rmtree
    fired = []

    def crash():
        fired.append(True)
        raise RuntimeError("simulated crash")

    def replace_failing(is_target):
        staged = []

        def fake(src, dst):
            if ".staging-" in str(src):
                staged.append(src)
            if is_target(src, dst, len(staged)):
                crash()
            return real_replace(src, dst)

        return fake

    faults = {  # step -> (module, attribute, fake, (manifest, rows) the crash leaves)
        "staged": (os, "replace", replace_failing(lambda src, dst, n: n == 1), (m_old, old)),
        "mid-rename": (os, "replace", replace_failing(lambda src, dst, n: n == 2), (m_old, old)),
        "publish": (
            os, "replace",
            replace_failing(lambda src, dst, n: str(dst).endswith(silver.MANIFEST)), (m_old, old),
        ),
        "gc": (
            shutil, "rmtree",
            lambda p, *a, **kw: crash() if str(p).endswith("__v=1") else real_rmtree(p, *a, **kw),
            (m_new, new),
        ),
        # every staged rename fails: a replay may not rename over live dirs
        "replay": (os, "replace", replace_failing(lambda src, dst, n: n > 0), (m_new, new)),
    }
    for step, (module, name, fake, (expect_manifest, expect_rows)) in faults.items():
        d = str(tmp_path / step)
        merge(d, batch1, 1)
        if step == "replay":
            merge(d, batch2, 2)
        fired.clear()
        with monkeypatch.context() as mp:
            mp.setattr(module, name, fake)
            try:
                merge(d, batch2, 2)
            except RuntimeError:
                pass
        assert fired or step == "replay", step
        assert silver.read_manifest(d) == expect_manifest, step
        assert state(d) == expect_rows, step

        # Structured Streaming retries the SAME batch_id: the rerun
        # converges to the clean post-batch state, twice over
        for _ in range(2):
            merge(d, batch2, 2)
        assert silver.read_manifest(d) == m_new and state(d) == new, step
        live = set(silver.current_paths(d, m_new))
        assert not live & set(silver.vacuum(d)), step
        assert state(d) == new and layout(d) == layout(clean), step


def test_silver_replay_of_a_published_batch_keeps_its_live_dirs(spark, tmp_path, monkeypatch):
    """A replay of a batch whose merge already published (its merges
    finished before the streaming commit log was written, or an index
    gate restarted on a fresh checkpoint) never deletes or renames over
    the version dirs the manifest references: with every staged rename
    failing, the live dirs keep their files and the table reads as
    published."""
    d = str(tmp_path / "t")

    def merge(rows_, batch_id):
        silver.merge_batch(
            spark, d, _kv(spark, rows_), ["k"], "version", batch_id=batch_id, n_buckets=4
        )

    merge([("a", "a", 1), ("b", "b", 1)], 1)
    merge([("a", "A", 2)], 2)
    manifest = silver.read_manifest(d)
    live = {p: sorted(os.listdir(p)) for p in silver.current_paths(d, manifest)}
    real_replace = os.replace

    def replace(src, dst):
        if ".staging-" in str(src):
            raise RuntimeError("simulated crash mid-rename")
        return real_replace(src, dst)

    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", replace)
        try:
            merge([("a", "A", 2)], 2)
        except RuntimeError:
            pass
    assert silver.read_manifest(d) == manifest
    assert {p: sorted(os.listdir(p)) if os.path.isdir(p) else None for p in live} == live
    out = {r["k"]: (r["v"], r["version"]) for r in silver.read_table(spark, d).collect()}
    assert out == {"a": ("A", 2), "b": ("b", 1)}


def test_silver_stale_replay_cannot_regress_state(spark, tmp_path):
    # at-least-once delivery can replay an OLD batch after a newer one has
    # committed; versioned merge must keep the newer row
    d = str(tmp_path / "t")
    silver.merge_batch(spark, d, _kv(spark, [("a", "new", 9)]), ["k"], "version",
                       batch_id=5, n_buckets=4)
    silver.merge_batch(spark, d, _kv(spark, [("a", "old", 3)]), ["k"], "version",
                       batch_id=4, n_buckets=4)
    out = silver.read_table(spark, d).collect()
    assert [(r["k"], r["v"], r["version"]) for r in out] == [("a", "new", 9)]


def test_multi_queue_isolation_scheduler_pools(spark, tmp_path, monkeypatch):
    """T7: two concurrent streaming queries in SEPARATE FAIR-scheduler
    pools (the reference's per-queue Celery workers, base/celery.py) —
    both run simultaneously, both checkpoints advance, and re-running one
    stream leaves the other's tables untouched. Every entity merge, on
    whichever pool thread ingest_batch runs it, sees its query's pool."""
    dirs = {}
    for q in ("live", "backfill"):
        for kind in ("lake", "out", "ckpt"):
            dirs[q, kind] = str(tmp_path / q / kind)
        os.makedirs(dirs[q, "lake"])

    seen: list[tuple[str, str | None]] = []  # (table_dir, pool) per merge
    real_merge = silver.merge_batch

    def recording_merge(spark_, table_dir, *args, **kwargs):
        pool = spark_.sparkContext.getLocalProperty("spark.scheduler.pool")
        seen.append((table_dir, pool))
        return real_merge(spark_, table_dir, *args, **kwargs)

    monkeypatch.setattr(silver, "merge_batch", recording_merge)

    write_block(dirs["live", "lake"], 100, [donation(1, "alice.near", "100")])
    write_block(dirs["backfill", "lake"], 500, [donation(71, "zoe.near", "9")])

    q_live = stream_ingest(
        spark, dirs["live", "lake"], dirs["live", "out"], dirs["live", "ckpt"],
        available_now=True, pool="ingest_live",
    )
    q_back = stream_ingest(
        spark, dirs["backfill", "lake"], dirs["backfill", "out"], dirs["backfill", "ckpt"],
        available_now=True, pool="ingest_backfill",
    )
    # both queries are active concurrently in their own pools
    assert q_live.awaitTermination(120) and q_back.awaitTermination(120)

    # the named pools actually materialized in the FAIR scheduler
    jsc = spark.sparkContext._jsc.sc()
    for pool in ("ingest_live", "ingest_backfill"):
        assert jsc.getPoolForName(pool).nonEmpty(), pool

    live = {r["on_chain_id"] for r in read_silver(spark, dirs["live", "out"], "donations").collect()}
    back = {r["on_chain_id"] for r in read_silver(spark, dirs["backfill", "out"], "donations").collect()}
    assert live == {1} and back == {71}

    # advance ONE queue; the other's checkpoint and state must not move
    back_manifest = silver.read_manifest(os.path.join(dirs["backfill", "out"], "donations"))
    write_block(dirs["live", "lake"], 101, [donation(2, "bob.near", "5")])
    q2 = stream_ingest(
        spark, dirs["live", "lake"], dirs["live", "out"], dirs["live", "ckpt"],
        available_now=True, pool="ingest_live",
    )
    assert q2.awaitTermination(120)
    live2 = {r["on_chain_id"] for r in read_silver(spark, dirs["live", "out"], "donations").collect()}
    assert live2 == {1, 2}
    assert silver.read_manifest(os.path.join(dirs["backfill", "out"], "donations")) == back_manifest

    # pool propagation into ingest_batch's worker threads: one merge per
    # entity per batch (live ran two batches), each in its query's pool
    pools = {"live": "ingest_live", "backfill": "ingest_backfill"}
    for q, batches in (("live", 2), ("backfill", 1)):
        mine = [pool for d, pool in seen if d.startswith(dirs[q, "out"] + os.sep)]
        assert len(mine) == batches * len(ENTITY_PIPELINES), q
        assert set(mine) == {pools[q]}, q


def _store_rows(spark, out: str) -> dict[str, list[str]]:
    """table -> sorted row reprs of every published entity table."""
    return {
        name: sorted(map(repr, silver.read_table(spark, f"{out}/{name}").collect()))
        for name in ENTITY_PIPELINES
        if silver.read_manifest(f"{out}/{name}") is not None
    }


def test_concurrent_merge_failure_fails_batch_and_replay_is_idempotent(
    spark, tmp_path, monkeypatch
):
    """One entity's merge raising fails the whole micro-batch only after
    every concurrent merge has returned (no merge outlives the failed
    batch), and replaying the batch from the same checkpoint converges to
    the store a clean run writes — even though the other tables already
    published the failed attempt."""
    from pyspark.errors import StreamingQueryException

    lake = str(tmp_path / "lake")
    out, ckpt = str(tmp_path / "silver"), str(tmp_path / "ckpt")
    os.makedirs(lake)
    write_block(lake, 100, [donation(1, "alice.near", "100"), donation(2, "bob.near", "7")])
    write_block(lake, 101, [donation(1, "alice.near", "150"), donation(3, "carol.near", "50")])

    lock = threading.Lock()
    state = {"running": 0, "failed": False}
    real_merge = silver.merge_batch

    def flaky_merge(spark_, table_dir, *args, **kwargs):
        with lock:
            state["running"] += 1
            fail = table_dir.endswith(f"{os.sep}donations") and not state["failed"]
            state["failed"] = state["failed"] or fail
        try:
            if fail:  # the first entity submitted: the rest are still running
                raise RuntimeError("injected merge failure")
            return real_merge(spark_, table_dir, *args, **kwargs)
        finally:
            with lock:
                state["running"] -= 1

    monkeypatch.setattr(silver, "merge_batch", flaky_merge)
    q = stream_ingest(spark, lake, out, ckpt, available_now=True)
    with pytest.raises(StreamingQueryException, match="injected merge failure"):
        q.awaitTermination(120)
    with lock:
        assert state["failed"] and state["running"] == 0
    assert silver.read_manifest(f"{out}/donations") is None  # never published
    assert silver.read_manifest(f"{out}/accounts") is not None  # others did
    monkeypatch.undo()

    drain(spark, lake, out, ckpt)  # replay batch 0 on the same checkpoint
    clean = str(tmp_path / "clean")
    drain(spark, lake, clean, str(tmp_path / "clean_ckpt"))
    replayed, expected = _store_rows(spark, out), _store_rows(spark, clean)
    assert "donations" in expected and len(expected["donations"]) == 3
    assert replayed == expected


# ---------------------------------------------------------------------------
# S4/S5: foreachBatch enrichment with a mocked HTTP transport
# ---------------------------------------------------------------------------


def test_enrich_fetches_only_missing_keys_once(spark, tmp_path):
    from django_indexer_spark.streaming import enrich

    dim = str(tmp_path / "token_prices")
    calls: list[list[str]] = []

    def fake_fetch(keys):
        calls.append(keys)
        return {k: {"price_usd": float(len(k)), "fetched_at_ms": 1_700_000_000_000} for k in keys}

    batch1 = spark.createDataFrame([("near",), ("usdc.near",), ("near",), (None,)], "token_id string")
    n = enrich.refresh_dimension(spark, batch1, dim, "token_id", fake_fetch, batch_id=1)
    assert n == 2
    assert calls == [["near", "usdc.near"]]  # distinct, null-free, sorted

    # second batch: one known key, one new — transport sees ONLY the new one
    batch2 = spark.createDataFrame([("near",), ("aurora",)], "token_id string")
    n = enrich.refresh_dimension(spark, batch2, dim, "token_id", fake_fetch, batch_id=2)
    assert n == 1
    assert calls[-1] == ["aurora"]

    # all-known batch: the transport is not called at all
    n = enrich.refresh_dimension(spark, batch2, dim, "token_id", fake_fetch, batch_id=3)
    assert n == 0 and len(calls) == 2

    prices = {r["token_id"]: r["price_usd"] for r in silver.read_table(spark, dim).collect()}
    assert prices == {"near": 4.0, "usdc.near": 9.0, "aurora": 6.0}


def test_enrich_over_limit_batch_drains_across_triggers(spark, tmp_path):
    """A cold-start batch with more missing keys than max_keys fetches
    exactly max_keys (deterministic order) and leaves the remainder for
    the next triggers' left-anti joins — bounded driver memory, no
    bookkeeping, full drain in ceil(backlog/max_keys) triggers."""
    from django_indexer_spark.streaming import enrich

    dim = str(tmp_path / "token_prices")
    calls: list[list[str]] = []

    def fake_fetch(keys):
        calls.append(keys)
        return {k: {"price_usd": 1.0, "fetched_at_ms": 1_700_000_000_000} for k in keys}

    backlog = spark.createDataFrame([(f"t{i:02d}",) for i in range(5)], "token_id string")
    assert enrich.refresh_dimension(
        spark, backlog, dim, "token_id", fake_fetch, batch_id=1, max_keys=2
    ) == 2
    assert calls[-1] == ["t00", "t01"]
    assert enrich.refresh_dimension(
        spark, backlog, dim, "token_id", fake_fetch, batch_id=2, max_keys=2
    ) == 2
    assert calls[-1] == ["t02", "t03"]
    assert enrich.refresh_dimension(
        spark, backlog, dim, "token_id", fake_fetch, batch_id=3, max_keys=2
    ) == 1
    assert calls[-1] == ["t04"]
    # drained: transport no longer called
    assert enrich.refresh_dimension(
        spark, backlog, dim, "token_id", fake_fetch, batch_id=4, max_keys=2
    ) == 0
    assert len(calls) == 3
    assert silver.read_table(spark, dim).count() == 5


def test_enrich_stream_end_to_end_with_mock_transport(spark, tmp_path):
    """The streaming shape: a file stream of token events keeps the price
    dim fresh via foreachBatch; executors never call the transport (it
    runs driver-side — asserted by it being a plain closure list)."""
    import json as _json

    from django_indexer_spark.streaming import enrich

    src_dir = str(tmp_path / "events")
    dim = str(tmp_path / "prices")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "e1.jsonl"), "w") as f:
        for tok in ("near", "dai.near"):
            f.write(_json.dumps({"token_id": tok}) + "\n")

    seen: list[list[str]] = []

    def fake_fetch(keys):
        seen.append(keys)  # mutating a driver-local proves driver-side exec
        return {k: {"price_usd": 1.5, "fetched_at_ms": 1} for k in keys}

    source = spark.readStream.schema("token_id string").json(src_dir)
    q = enrich.enrich_stream(spark, source, dim, ckpt, "token_id", fake_fetch)
    assert q.awaitTermination(120)
    assert seen == [["dai.near", "near"]]
    got = {r["token_id"] for r in silver.read_table(spark, dim).collect()}
    assert got == {"dai.near", "near"}


def test_silver_vacuum_removes_only_unreferenced_dirs(spark, tmp_path):
    d = str(tmp_path / "t")
    silver.merge_batch(
        spark, d, _kv(spark, [(k, k, 1) for k in "abcdefgh"]), ["k"], "version",
        batch_id=1, n_buckets=8,
    )
    before = {r["k"]: (r["v"], r["version"]) for r in silver.read_table(spark, d).collect()}
    # plant crash debris: an abandoned staging dir and an orphan version
    os.makedirs(os.path.join(d, ".staging-v99", "__b=0"))
    some_bucket = next(iter(silver.read_manifest(d)["buckets"]))
    orphan = silver.version_dir(d, some_bucket, 99)
    os.makedirs(orphan)
    removed = silver.vacuum(d)
    assert os.path.join(d, ".staging-v99") in removed and orphan in removed
    assert not os.path.exists(orphan)
    # every live (manifest-referenced) version dir survives, data intact
    after = {r["k"]: (r["v"], r["version"]) for r in silver.read_table(spark, d).collect()}
    assert after == before
    # idempotent: a clean table vacuums to nothing
    assert silver.vacuum(d) == []


def test_watermarked_dedup_drops_redelivery_and_bounds_state(spark, tmp_path):
    """watermarked_exact_dedup contract, both halves:
    - a redelivered key arriving WITHIN the watermark delay of the
      original's event time is dropped (at-least-once absorbed);
    - once the watermark passes a key's event time + delay its state is
      EVICTED, so a much-later duplicate re-emits — the proof that state
      is bounded by (rate x delay), not stream history (the property an
      unbounded stream needs at 100 TB/day).
    File-source batches with maxFilesPerTrigger=1 make watermark
    advancement deterministic: watermark for batch N = max event time of
    batches < N minus the delay."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from django_indexer_spark.streaming.windows import watermarked_exact_dedup

    in_dir = str(tmp_path / "in")
    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    def write_batch(i: int, rows: list[tuple[str, str]]):
        df = spark.createDataFrame(rows, "event_id string, ts_s string").select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(_glob.glob(f"{stage}/part-*.parquet")[0], f"{in_dir}/{i}.parquet")

    # batch0: A and B originals (event time 00:00)
    write_batch(0, [("A", "2024-01-01 00:00:00"), ("B", "2024-01-01 00:00:00")])
    # batch1: A redelivered one minute later (within the 10 min delay →
    # dropped); C advances max event time to 01:00, so the watermark
    # from batch2 on is 00:50 — past A's and B's 00:10 eviction point
    write_batch(1, [("A", "2024-01-01 00:01:00"), ("C", "2024-01-01 01:00:00")])
    # batch2: state cleanup runs at END of batch, after rows were matched
    # against existing state — so this batch only TRIGGERS the eviction
    # of A and B (expiry 00:10 < watermark 00:50); D passes through
    write_batch(2, [("D", "2024-01-01 01:10:00")])
    # batch3: B again at 01:05 — state evicted at end of batch2, and
    # 01:05 is above batch3's watermark (01:10 - 10 min = 01:00), so it
    # re-emits as a fresh key
    write_batch(3, [("B", "2024-01-01 01:05:00")])

    schema = "event_id string, ts timestamp"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    deduped = watermarked_exact_dedup(stream, ["event_id"], "ts", "10 minutes")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming dedup did not finish in 120s"

    got = [
        (r["event_id"], str(r["ts"]))
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    ]
    counts = {}
    for eid, _ in got:
        counts[eid] = counts.get(eid, 0) + 1
    # A deduped (1), C/D pass (1), B re-emitted after eviction (2)
    assert counts == {"A": 1, "B": 2, "C": 1, "D": 1}, got


def test_frontier_update_split_invariance_and_replay(spark):
    """streaming/crawl.py:frontier_update — the visited-set monoid:
    (a) batch-split invariance: folding the frontier in one batch, two
    batches, or an interleaved split yields the SAME state (what makes
    s_stream_frontier SQL-oracle-checkable); (b) crash/replay: re-
    applying a batch to the same prior state (the batch-id-versioned
    write contract) reproduces the state byte-for-byte — no
    double-count."""
    from pyspark.sql import functions as F

    from django_indexer_spark.streaming.crawl import frontier_update

    urls = [
        (0, "https://a.example/x"),
        (1, "https://a.example/x?utm_source=t"),  # same canonical as 0
        (2, "HTTPS://A.EXAMPLE:443/x#frag"),  # same canonical as 0
        (3, "https://b.example/y?b=2&a=1"),
        (4, "https://b.example/y?a=1&b=2"),  # same canonical as 3
        (5, "https://c.example/z"),
    ]
    df = spark.createDataFrame(urls, "id long, url string")

    def fold(splits):
        state = None
        for ids in splits:
            batch = df.filter(F.col("id").isin(ids))
            state = frontier_update(state, batch)
        return sorted(map(tuple, state.collect()))

    one = fold([[0, 1, 2, 3, 4, 5]])
    two = fold([[0, 1, 2], [3, 4, 5]])
    interleaved = fold([[0, 3, 5], [1, 2, 4]])
    assert one == two == interleaved
    state = {t[0]: t for t in one}
    assert state["https://a.example/x"][1] == 3  # n_seen merges
    # min-merge picks the byte-smallest raw spelling ('H' < 'h')
    assert state["https://a.example/x"][2] == "HTTPS://A.EXAMPLE:443/x#frag"
    assert state["https://b.example/y?a=1&b=2"][1] == 2
    assert state["https://c.example/z"][1] == 1

    # replay: batch 1 applied twice to the SAME prior state (versioned
    # state writes mean a crashed batch re-reads v0, never its own v1)
    v0 = frontier_update(None, df.filter(F.col("id") < 3))
    v1 = frontier_update(v0, df.filter(F.col("id") >= 3))
    v1_replayed = frontier_update(v0, df.filter(F.col("id") >= 3))
    assert sorted(map(tuple, v1.collect())) == sorted(
        map(tuple, v1_replayed.collect())
    ) == one


def test_silver_merge_with_caller_supplied_touched_buckets(spark, tmp_path):
    """merge_batch(touched_buckets=...) — the streaming index gates
    collect the batch's bucket set ONCE and hand it to both probe and
    merge: the resulting table must be identical to the self-collecting
    path, batch by batch. A superset naming a bucket with no rows raises
    before anything is renamed or published."""
    auto, given = str(tmp_path / "auto"), str(tmp_path / "given")
    batches = [
        [("a", "a1", 1), ("b", "b1", 1)],
        [("a", "a2", 2), ("c", "c2", 2)],
        [("b", "b3", 3)],
    ]
    for i, rows_ in enumerate(batches, start=1):
        inc = _kv(spark, rows_)
        touched = sorted(
            r[0]
            for r in inc.select(
                silver.bucket_expr(["k"], 4).alias("b")
            ).distinct().collect()
        )
        got_auto = silver.merge_batch(
            spark, auto, inc, ["k"], "version", batch_id=i, n_buckets=4
        )
        got_given = silver.merge_batch(
            spark, given, inc, ["k"], "version", batch_id=i, n_buckets=4,
            touched_buckets=touched,
        )
        assert got_auto == got_given == touched

    def state(d):
        df = silver.read_table(spark, d)
        return {r["k"]: (r["v"], r["version"]) for r in df.collect()}

    assert state(auto) == state(given) == {
        "a": ("a2", 2), "b": ("b3", 3), "c": ("c2", 2)
    }
    ma, mg = silver.read_manifest(auto), silver.read_manifest(given)
    assert ma["buckets"] == mg["buckets"]

    # superset: three keys fill at most three of the four buckets, so one
    # bucket is empty in the table and in the batch
    empty = next(b for b in range(4) if str(b) not in mg["buckets"])
    inc = _kv(spark, [("a", "a4", 4)])
    touched = [r[0] for r in inc.select(silver.bucket_expr(["k"], 4)).distinct().collect()]
    with pytest.raises(ValueError, match=rf"touched_buckets \[{empty}\]"):
        silver.merge_batch(
            spark, given, inc, ["k"], "version", batch_id=4, n_buckets=4,
            touched_buckets=sorted(touched + [empty]),
        )
    assert silver.read_manifest(given) == mg
    assert not any(os.path.exists(silver.version_dir(given, b, 4)) for b in range(4))
    assert state(given) == {"a": ("a2", 2), "b": ("b3", 3), "c": ("c2", 2)}
