"""``ingest`` workload: the indexer's write path.

Set-up writes a seeded history to a lake directory and loads it into an
empty silver store (``bootstrap``: every entity table the pipeline
writes), which also warms the JVM on the normalizer and merge plans.
The timed part is a closed loop over micro-batches: each round drops the
next block backlog of exactly one trigger's worth of files (the code's
default ``max_files_per_trigger``) into the lake and drains it with
``stream_ingest(available_now=True)`` on one checkpoint; the next round
starts when the previous trigger has committed. Rounds continue until
``seconds`` have passed (at least one round). The traced run then
repeats as many rounds with tracing on.

Output check (untimed): every ledger-covered silver table has the
ledger's row count, and the per-recipient donation sums match.
"""

from __future__ import annotations

import inspect
import os
import time
from concurrent.futures import ThreadPoolExecutor

import lakegen
import tracing
from metrics import Result

SIZES = {"history_files": 32, "max_rounds": 8, "receipts_per_block": 24, "n_accounts": 2000}
SMOKE = {"history_files": 4, "max_rounds": 2, "receipts_per_block": 6, "n_accounts": 40}
SMOKE_FILES_PER_TRIGGER = 2


# batch id of the bootstrap's version dirs: one a stream never uses, so
# the first timed micro-batch (batch 0) publishes new versions next to the
# bootstrap's and collects them, as every later trigger does
BOOTSTRAP_BATCH = -1


def bootstrap(spark, lake: str, store: str, tables: list[str], threads: int = 8) -> None:
    """Load a lake directory into an empty silver store with the
    pipeline's own normalizers, keys, conflict policies and partition
    layout: one ``silver.merge_batch`` per table, ``threads`` tables at a
    time over one shared prepared frame."""
    from django_indexer_spark.sources import normalize, silver
    from django_indexer_spark.sources.lake import explode_receipts, read_lake
    from django_indexer_spark.streaming.pipeline import ENTITY_PARTITIONS, ENTITY_PIPELINES

    prepared = normalize.prepare(explode_receipts(read_lake(spark, lake))).persist()

    def load(name: str) -> None:
        fn, key, keep = ENTITY_PIPELINES[name]
        entity = fn(prepared)
        part = ENTITY_PARTITIONS.get(name)
        if part is not None:
            entity = entity.withColumn(part[0], part[1]())
        silver.merge_batch(
            spark, f"{store}/{name}", entity, key, "version", keep=keep,
            batch_id=BOOTSTRAP_BATCH, partition_col=None if part is None else part[0],
        )

    try:
        prepared.count()
        with ThreadPoolExecutor(threads) as pool:
            for fut in [pool.submit(load, name) for name in tables]:
                fut.result()
    finally:
        prepared.unpersist()


def expectation(ledger: lakegen.Ledger) -> dict:
    sums: dict[str, int] = {}
    for row in ledger.donation_rows():
        sums[row["recipient_id"]] = sums.get(row["recipient_id"], 0) + int(row["total_amount"])
    return {"counts": ledger.row_counts(), "recipient_sums": sums}


def silver_files(silver_dir: str) -> dict[str, int]:
    """path -> bytes of every parquet file in the store."""
    out = {}
    for dirpath, _, files in os.walk(silver_dir):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                out[p] = os.path.getsize(p)
    return out


def parquet_rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def install_wrappers(tracer: tracing.Tracer) -> list:
    """Pass-through timers around the layer calls of the write and read
    paths. Returns undo functions."""
    from django_indexer_spark.sources import normalize, silver
    from django_indexer_spark.streaming import pipeline

    undo = [
        tracer.wrap(pipeline, "explode_receipts", "lake.explode_receipts"),
        tracer.wrap(normalize, "prepare", "normalize.prepare"),
    ]
    merge = silver.merge_batch

    def merge_batch(*args, **kwargs):
        with tracer.span("silver.merge_batch"):
            touched = merge(*args, **kwargs)
        tracer.count("silver.touched_buckets", len(touched))
        return touched

    silver.merge_batch = merge_batch
    undo.append(lambda: setattr(silver, "merge_batch", merge))
    read = silver.read_table

    def read_table(spark, table_dir, buckets=None, **kwargs):
        with tracer.span("silver.read_table"):
            df = read(spark, table_dir, buckets, **kwargs)
        t = time.perf_counter()
        manifest = silver.read_manifest(table_dir, at_batch=kwargs.get("at_batch"))
        if manifest is not None:
            files = sum(
                sum(1 for _, _, fs in os.walk(p) for f in fs if f.endswith(".parquet"))
                for p in silver.current_paths(table_dir, manifest, buckets)
            )
            tracer.count("silver.opens")
            tracer.count("silver.open_files", files)
        tracer.count("instrument_ms", (time.perf_counter() - t) * 1e3)
        return df

    silver.read_table = read_table
    undo.append(lambda: setattr(silver, "read_table", read))
    return undo


def read_layer(tracer: tracing.Tracer) -> dict:
    opens = tracer.counts.get("silver.opens", 0)
    return {
        "silver.open_ms": tracing.median(tracer.durations_ms("silver.read_table")),
        "silver.files_per_open": tracer.counts.get("silver.open_files", 0) / opens if opens else 0.0,
    }


class Drain:
    """The timed closed loop over micro-batches. Each round drops the
    next trigger's backlog into the lake (untimed) and drains it with
    ``stream_ingest(available_now=True)`` on the store's checkpoint."""

    def __init__(self, spark, work, seed, gen, per_trigger, next_file, sampler):
        self.spark, self.seed, self.gen = spark, seed, gen
        self.lake, self.store, self.ckpt = f"{work}/lake", f"{work}/silver", f"{work}/ckpt"
        self.per_trigger, self.next_file, self.sampler = per_trigger, next_file, sampler
        self.round = 0

    def run(self, tracer, seconds: float, max_rounds: int, failures: list) -> dict:
        """Rounds until ``seconds`` of drain have passed (at least one,
        at most ``max_rounds``)."""
        from django_indexer_spark.streaming import pipeline

        undo = install_wrappers(tracer) if tracer.enabled else []
        out = {"commits": [], "overheads": [], "drain_s": 0.0, "rows": 0, "rounds": 0, "raised": 0,
               "written_files": 0, "written_bytes": 0, "written_rows": 0}
        try:
            while out["rounds"] < max_rounds and (out["rounds"] == 0 or out["drain_s"] < seconds):
                chunk, self.gen = lakegen.generate(self.seed, self.per_trigger, gen=self.gen)
                lakegen.write_lake(chunk.blocks, self.lake, first_index=self.next_file)
                self.next_file += self.per_trigger
                self.round += 1
                before = silver_files(self.store) if tracer.enabled else {}
                q = None
                self.sampler.active.set()
                t = time.perf_counter()
                try:
                    with tracer.span("pipeline.trigger", op=f"round{self.round}") as sp:
                        tracer.root = sp
                        q = pipeline.stream_ingest(self.spark, self.lake, self.store, self.ckpt, available_now=True)
                        q.awaitTermination()
                except Exception as e:  # a failed micro-batch is counted, not fatal
                    out["raised"] += 1
                    failures.append(f"round {self.round}: {type(e).__name__}: {e}"[:300])
                finally:
                    out["drain_s"] += time.perf_counter() - t
                    self.sampler.active.clear()
                    tracer.root = None
                ph = tracing.progress_phases(q.recentProgress if q is not None else [])
                out["commits"] += ph.get("trigger", [])
                out["overheads"] += ph.get("overhead", [])
                out["rows"] += sum(chunk.rows_per_block)
                out["rounds"] += 1
                if tracer.enabled:
                    new = {p: b for p, b in silver_files(self.store).items() if p not in before}
                    out["written_files"] += len(new)
                    out["written_bytes"] += sum(new.values())
                    out["written_rows"] += parquet_rows(list(new))
        finally:
            for u in undo:
                u()
        return out


def run(spark, work, seed, seconds, tracer, sampler, smoke=False) -> Result:
    from django_indexer_spark.sources import silver
    from django_indexer_spark.streaming import pipeline

    sz = SMOKE if smoke else SIZES
    per_trigger = (
        SMOKE_FILES_PER_TRIGGER
        if smoke
        else inspect.signature(pipeline.stream_ingest).parameters["max_files_per_trigger"].default
    )
    store = f"{work}/silver"
    res = Result()

    t0 = time.perf_counter()
    history, gen = lakegen.generate(
        seed, sz["history_files"], sz["receipts_per_block"], n_accounts=sz["n_accounts"]
    )
    lakegen.write_lake(history.blocks, f"{work}/history")
    bootstrap(spark, f"{work}/history", store, list(pipeline.ENTITY_PIPELINES))
    res.setup_s = time.perf_counter() - t0

    drain = Drain(spark, work, seed, gen, per_trigger, 0, sampler)
    base = drain.run(tracing.Tracer(False), seconds, sz["max_rounds"], res.failures)
    passes = [base]
    if tracer.enabled:
        # as many rounds again, traced: the difference of the two passes'
        # commit latencies is the tracing overhead
        passes.append(drain.run(tracer, 0, base["rounds"], res.failures))
    traced = passes[-1]

    # -- output check (untimed) --------------------------------------
    checks_failed = check_store(silver, store, expectation(drain.gen.ledger), res.failures)
    res.attempted = sum(p["rounds"] for p in passes)
    res.failed = res.attempted if checks_failed else sum(p["raised"] for p in passes)

    res.e2e = {
        "latency_ms": tracing.median(base["commits"]),
        "throughput_per_s": base["rows"] / base["drain_s"] if base["drain_s"] > 0 else 0.0,
    }
    if tracer.enabled:
        rounds, rows = traced["rounds"], traced["rows"]
        merges = tracer.durations_ms("silver.merge_batch")
        plan = [a + b for a, b in zip(tracer.durations_ms("lake.explode_receipts"),
                                      tracer.durations_ms("normalize.prepare"))]
        res.layers.update(
            {
                "pipeline.trigger_ms": tracing.median(traced["commits"]),
                "pipeline.overhead_ms": tracing.median(traced["overheads"]),
                "lake.explode_ms": tracing.median(plan),
                "silver.merge_ms": tracing.median(merges),
                "silver.merges_per_batch": len(merges) / rounds,
                "silver.touched_buckets": tracer.counts.get("silver.touched_buckets", 0) / rounds,
                "silver.rewrite_ratio": traced["written_rows"] / rows if rows else 0.0,
                "silver.bytes_written_per_row": traced["written_bytes"] / rows if rows else 0.0,
                "silver.files_per_batch": traced["written_files"] / rounds,
                **read_layer(tracer),
                "trace.latency_ms": tracing.median(traced["commits"]),
                "trace.overhead_ms": tracing.median(traced["commits"]) - res.e2e["latency_ms"],
                "trace.instrument_ms": tracer.counts.get("instrument_ms", 0) / rounds,
                "checks.failed": float(checks_failed),
                "batches": float(rounds),
            }
        )
    return res


def snapshot_files(silver, table_dir: str) -> list[str]:
    """Parquet files of the table's published snapshot (its manifest)."""
    manifest = silver.read_manifest(table_dir)
    if manifest is None:
        return []
    return [
        os.path.join(d, f)
        for p in silver.current_paths(table_dir, manifest)
        for d, _, fs in os.walk(p)
        for f in fs
        if f.endswith(".parquet")
    ]


def check_store(silver, store: str, expect: dict, failures: list) -> int:
    """Compare the published snapshot with the ledger, reading parquet
    footers and columns directly (no Spark jobs)."""
    import pyarrow.parquet as pq

    failed = 0
    for name, n in expect["counts"].items():
        got = parquet_rows(snapshot_files(silver, f"{store}/{name}"))
        if got != n:
            failed += 1
            failures.append(f"{name}: {got} rows, ledger {n}")
    got: dict[str, int] = {}
    for path in snapshot_files(silver, f"{store}/donations"):
        cols = pq.read_table(path, columns=["recipient_id", "total_amount"]).to_pydict()
        for rec, amount in zip(cols["recipient_id"], cols["total_amount"]):
            got[rec] = got.get(rec, 0) + int(amount)
    if got != expect["recipient_sums"]:
        failed += 1
        bad = [k for k in expect["recipient_sums"] if got.get(k) != expect["recipient_sums"][k]]
        failures.append(f"per-recipient sums differ for {len(bad)} recipients, e.g. {bad[:3]}")
    return failed
