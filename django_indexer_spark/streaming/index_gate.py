"""One micro-batch of an incremental bucketed index: probe → log → merge.

The streaming indexes (dedup_index: minhash bands, ann_index: sign-LSH
vectors, phash_index: image-hash bands, and crawl, which feeds
dedup_index) keep their state as a silver table bucketed by the lookup
columns (``merge_batch(bucket_by=...)``), so a batch probes only the
buckets its own rows hash into — cost ∝ batch, not corpus (the
reference's process-only-the-new-block loop, indexer_app/handler.py:33-60).
Each index supplies only its domain code as an ``IndexSpec``; every step
below is defined here once:

1. build and persist the batch's index rows (``spec.rows``);
2. collect the batch's physical buckets once,
   ``silver.buckets_of(rows, spec.bucket_by, n_buckets)``;
3. open the probed buckets (the step-2 set, or ``spec.probe_rows``'s
   wider set) with ``silver.read_table(buckets=...)``, keeping only rows
   with ``version < batch_id``;
4. run the index's own probe, ``spec.probe(existing, rows)``;
5. consume the lazy result BEFORE the merge: the streams write it to
   the batch's own partition of a ``batch_id``-partitioned log,
   overwriting it (``write_log``), the batch API (each index's
   ``probe_and_update``) materializes it;
6. merge the rows at ``version = batch_id`` into the index, rewriting
   only the step-2 buckets;
7. ``start`` the stream: foreachBatch, checkpoint, availableNow.

REPLAY CONTRACT: a replayed batch (same rows, same batch id — a crash
retry or a fresh checkpoint over the same source) probes exactly the
state the first run saw, because step 3 hides the rows that this and
later batches merged; its log partition is overwritten, not appended,
and the merge is idempotent per batch id. So the log and the index hold
exactly the first run's rows after any number of replays. CONDITION:
batch ids grow over an index's life. A fresh checkpoint restarts them
at 0, so pointing one at NEW data over an existing index would hide the
index's rows from the probe; start a new index_dir instead.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import silver


@dataclass(frozen=True)
class IndexSpec:
    """An index's domain code. ``rows``: batch → index rows (without
    ``version``); ``probe``: (existing index rows or None, batch rows) →
    lazy result; ``key``: upsert key; ``bucket_by``: the lookup columns
    rows are bucketed by (immutable per key); ``probe_rows``: rows whose
    ``bucket_by`` values name the buckets to read, when the probe looks
    wider than the batch writes (multi-probe ANN)."""

    rows: Callable[[DataFrame], DataFrame]
    probe: Callable[[DataFrame | None, DataFrame], DataFrame]
    key: list[str]
    bucket_by: list[str]
    probe_rows: Callable[[DataFrame], DataFrame] | None = None


def run_batch(
    spark: SparkSession, spec: IndexSpec, index_dir: str, batch_df: DataFrame,
    batch_id: int, n_buckets: int, log_dir: str | None = None,
) -> DataFrame | None:
    """Steps 1-6 for one batch. With ``log_dir`` the probe result goes to
    that log (``write_log``); without, it is returned MATERIALIZED with
    the probe's own schema (driver-side — bounded by the batch's result
    size, the batch API's contract)."""
    rows = spec.rows(batch_df).persist()
    try:
        touched = silver.buckets_of(rows, spec.bucket_by, n_buckets)
        read = touched
        if spec.probe_rows is not None:
            read = silver.buckets_of(spec.probe_rows(rows), spec.bucket_by, n_buckets)
        existing = silver.read_table(spark, index_dir, buckets=read)
        if existing is not None:
            existing = existing.filter(F.col("version") < F.lit(batch_id))
        found = spec.probe(existing, rows)
        if log_dir is None:
            found = spark.createDataFrame(found.collect(), found.schema)
        else:
            write_log(found, log_dir, batch_id)
            found = None
        silver.merge_batch(
            spark, index_dir, rows.withColumn("version", F.lit(batch_id).cast("long")),
            spec.key, "version", keep="last", batch_id=batch_id, n_buckets=n_buckets,
            bucket_by=spec.bucket_by, touched_buckets=touched,
        )
        return found
    finally:
        rows.unpersist()


def write_log(df: DataFrame, log_dir: str, batch_id: int) -> None:
    """Write one batch's rows to the ``batch_id={batch_id}`` partition of
    a parquet log (readers of ``log_dir`` get a ``batch_id`` column),
    replacing only that partition: a replayed batch rewrites its own
    rows, so the log is exactly-once. A batch without rows still writes
    a file carrying the schema, so a log that never got a row opens as
    an empty table instead of failing schema inference."""
    df.write.mode("overwrite").parquet(f"{log_dir}/batch_id={batch_id}")


def start(
    source: DataFrame, process: Callable[[DataFrame, int], None],
    checkpoint_dir: str, available_now: bool,
):
    """Start ``process`` per micro-batch of ``source`` under a checkpoint."""
    writer = source.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream(
    spark: SparkSession, spec: IndexSpec, source: DataFrame, index_dir: str,
    log_dir: str, checkpoint_dir: str, available_now: bool, n_buckets: int,
):
    """Run every micro-batch of ``source`` through the index, logging
    each batch's probe result to ``log_dir``."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        run_batch(spark, spec, index_dir, batch_df, batch_id, n_buckets, log_dir)

    return start(source, process, checkpoint_dir, available_now)
