"""Incremental near-dup detection over a streaming corpus.

The batch dedup family (operators/dedup.py) answers "which pairs in THIS
table are near-dups" — O(corpus) per run. A training-data ingest needs the
incremental question instead: as documents arrive, which of them collide
with documents ALREADY SEEN, without recomputing all pairs. (The reference
has no document pipeline — this extends its incremental-indexer loop,
indexer_app/handler.py:33-60's "process only the new block" shape, to the
LLM-corpus operators this engine adds as first-class.)

Design — a persistent LSH band index as a silver table:

- rows are ``(doc_id, band, band_key, version)`` from
  ``dedup.minhash_bands`` (one row per doc per band);
- upsert key is ``(doc_id, band)`` (re-ingesting a doc is idempotent),
  but the table is BUCKETED BY ``(band, band_key)``
  (``merge_batch(bucket_by=...)``): a probe for incoming band keys reads
  only the buckets those keys hash into — the probe cost scales with the
  BATCH, not the corpus;
- per micro-batch (foreachBatch-shaped, exactly like
  pipeline.stream_ingest's entity merges):
    1. band the incoming docs (one pass, map-side combine);
    2. candidate pairs vs the EXISTING index = equi-join on
       (band, band_key) against ONLY the colliding buckets;
    3. candidate pairs within the batch = the batch self-join
       (dedup.minhash_candidate_pairs);
    4. sink the pairs (distributed write — no driver materialization);
    5. merge the new band rows into the index (touched buckets only).
  Replay of a failed batch re-finds the same pairs and re-merges
  idempotently (T3 semantics).

IMMUTABILITY CONTRACT (from merge_batch's bucket_by): a doc_id's text —
hence its band_key per band — must not change across batches. Re-ingest
of identical text is idempotent; mutating a doc requires reingesting
under a new doc_id (or rebuilding the index), the standard LSH-index
restriction.

At 100 TB: the index holds ``bands`` rows per doc (tiny vs the corpus),
the per-batch probe shuffles only the batch's band rows plus the
colliding buckets, and the downstream exact verify (ngram_jaccard_pairs
on the candidate pairs) is already pair-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from ..sources import silver

DEFAULT_N_BUCKETS = 16


def index_bands(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Band rows for the index: (doc_id, band, band_key)."""
    out = dedup.minhash_bands(docs, text_col, id_col, num_hashes=num_hashes, bands=bands)
    return out.select(F.col(id_col).alias("doc_id"), "band", "band_key")


def touched_buckets(new_bands: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> list[int]:
    """The batch's distinct physical-bucket ids — ONE collect shared by
    ``probe`` (which buckets to read) and ``update`` (which buckets to
    rewrite): both are the same ``bucket_expr(["band","band_key"])`` over
    the same rows, so collecting twice per micro-batch was a pure extra
    driver job (round-13, guide §1.2 step 1)."""
    bucket_of = silver.bucket_expr(["band", "band_key"], n_buckets)
    return sorted(
        r[0] for r in new_bands.select(bucket_of.alias("b")).distinct().collect()
    )


def probe(
    spark: SparkSession,
    index_dir: str,
    new_bands: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    before_version: int | None = None,
    probe_buckets: list[int] | None = None,
) -> DataFrame:
    """Candidate pairs for one batch of band rows, LAZY: ``(id_new,
    id_seen, source)`` — 'index' = collision with a previously-ingested
    doc (probe reads ONLY the buckets the batch's (band, band_key)s hash
    into — bounded driver collect of ≤ n_buckets ids, the silver store's
    standard pruning pattern), 'batch' = within-batch collision.

    Consume the result BEFORE merging the same batch into the index (the
    plan reads index state lazily); ``probe_and_update``/``stream_dedup``
    sequence this correctly.

    ``before_version``: pass the current batch_id to make a REPLAYED
    batch probe exactly the state the original run saw — index rows
    merged at version >= batch_id (the crashed attempt's own partial
    merge) are excluded, so the found pairs are replay-deterministic
    (round-10 ADVICE: exactly-once pairs logs need this plus a
    batch_id-partitioned overwrite sink).
    """
    if probe_buckets is None:
        probe_buckets = touched_buckets(new_bands, n_buckets)
    existing = silver.read_table(spark, index_dir, buckets=probe_buckets)
    if existing is not None and before_version is not None:
        existing = existing.filter(F.col("version") < F.lit(int(before_version)))
    within = dedup.minhash_candidate_pairs(
        new_bands.select("doc_id", "band", "band_key"), "doc_id"
    ).select(
        F.col("id_a").alias("id_new"),
        F.col("id_b").alias("id_seen"),
        F.lit("batch").alias("source"),
    )
    if existing is None:
        return within
    vs_index = (
        new_bands.join(
            existing.select(F.col("doc_id").alias("id_seen"), "band", "band_key"),
            ["band", "band_key"],
        )
        # replayed batches: a doc already in the index must not pair with
        # itself
        .filter(F.col("doc_id") != F.col("id_seen"))
        .select(
            F.col("doc_id").alias("id_new"),
            "id_seen",
            F.lit("index").alias("source"),
        )
        .distinct()
    )
    return vs_index.unionByName(within)


def update(
    spark: SparkSession,
    index_dir: str,
    new_bands: DataFrame,
    batch_id: int,
    n_buckets: int = DEFAULT_N_BUCKETS,
    touched: list[int] | None = None,
) -> list[int]:
    """Merge one batch's band rows into the index (touched buckets only;
    idempotent per batch_id). ``touched``: pass ``touched_buckets(...)``
    when the caller already collected it for the probe — the version
    column added here never changes the bucket routing."""
    return silver.merge_batch(
        spark,
        index_dir,
        new_bands.withColumn("version", F.lit(batch_id).cast("long")),
        ["doc_id", "band"],
        "version",
        keep="last",
        batch_id=batch_id,
        n_buckets=n_buckets,
        bucket_by=["band", "band_key"],
        touched_buckets=touched,
    )


def probe_and_update(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> DataFrame:
    """Convenience batch API: probe, then advance the index; returns the
    pairs MATERIALIZED (driver-side — bounded by the batch's collision
    count; a batch emitting millions of candidate pairs means the band
    curve is mistuned, not that this collect needs to scale). Streaming
    callers use ``stream_dedup``, which sinks pairs distributed instead.
    """
    new_bands = index_bands(docs, text_col, id_col, num_hashes, bands).persist()
    try:
        buckets = touched_buckets(new_bands, n_buckets)
        pairs = probe(spark, index_dir, new_bands, n_buckets, probe_buckets=buckets)
        result = spark.createDataFrame(
            pairs.collect(), schema="id_new long, id_seen long, source string"
        )
        update(spark, index_dir, new_bands, batch_id, n_buckets, touched=buckets)
        return result
    finally:
        new_bands.unpersist()


def stream_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    n_buckets: int = DEFAULT_N_BUCKETS,
):
    """Wire the index into Structured Streaming: per trigger, found pairs
    APPEND to ``pairs_dir`` (a parquet log of near-dup events, written
    distributed — the executor-side sink, no driver materialization) and
    the band index advances. Same foreachBatch + checkpoint shape as
    pipeline.stream_ingest, so crash/replay semantics are identical
    (a replayed batch re-appends its pairs; readers of the pairs log
    dedupe on (id_new, id_seen) — at-least-once, like every append log).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new_bands = index_bands(batch_df, text_col, id_col, num_hashes, bands).persist()
        try:
            buckets = touched_buckets(new_bands, n_buckets)
            pairs = probe(spark, index_dir, new_bands, n_buckets, probe_buckets=buckets)
            (
                pairs.withColumn("batch_id", F.lit(batch_id).cast("long"))
                .write.mode("append")
                .parquet(pairs_dir)
            )
            update(spark, index_dir, new_bands, batch_id, n_buckets, touched=buckets)
        finally:
            new_bands.unpersist()

    writer = docs_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
