"""Incremental image near-dup detection over a streaming media corpus.

The batch side (operators/multimodal.py: ``image_phash`` +
``phash_near_dup_pairs``) answers "which images in THIS table are
perceptual near-dups" — O(corpus) per run. A media-ingest pipeline needs
the incremental question: as images arrive, which collide with images
ALREADY SEEN, without rehashing or re-joining the corpus. Same design as
the text index (streaming/dedup_index.py — the reference's
process-only-the-new-block loop, indexer_app/handler.py:33-60, applied
to media), with pHash Hamming LSH in place of minhash banding:

- index rows are ``(media_id, band, chunk, phash, version)`` from
  ``multimodal.phash_chunks`` — one row per image per band, so the
  index holds ``bands`` narrow rows per image (never the blobs);
- the silver table is BUCKETED BY ``(band, chunk)``: a probe for an
  incoming batch reads only the buckets its chunks hash into — probe
  cost scales with the BATCH, not the corpus;
- per micro-batch: hash the incoming images (Arrow-batched decode,
  blobs never shuffle), probe the colliding buckets for Hamming
  candidates, verify JVM-side with bit_count(xor) <= max_hamming,
  append pairs to a distributed parquet log, merge the new band rows
  into the index. Replay re-finds the same pairs and re-merges
  idempotently (T3 semantics).

Batch-split equivalence (the oracle the unit tests pin): within-batch
pairs ∪ batch-vs-index pairs across ANY partition of the corpus equal
the one-shot ``phash_near_dup_pairs`` output — banding is symmetric and
verification depends only on the two hashes, so WHEN an image arrives
cannot change WHETHER a pair is found.

IMMUTABILITY CONTRACT (merge_batch's bucket_by): a media_id's payload —
hence its pHash chunks — must not change across batches; re-ingest of
identical bytes is idempotent, mutation requires a new media_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal
from ..sources import silver

DEFAULT_N_BUCKETS = 16


def index_rows(media: DataFrame, bands: int = 4) -> DataFrame:
    """Index rows for one batch of media: (media_id, band, chunk, phash)
    — undecodable payloads hash to null and are dropped (they can't be
    perceptual near-dups of anything)."""
    hashes = multimodal.image_phash(media)
    return multimodal.phash_chunks(hashes, "media_id", "phash", bands).select(
        F.col("id").alias("media_id"), "band", "chunk", F.col("h").alias("phash")
    )


def touched_buckets(new_rows: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> list[int]:
    """The batch's distinct physical-bucket ids — ONE collect shared by
    ``probe`` and ``update`` (identical ``bucket_expr(["band","chunk"])``
    over the same rows; round-13, the duplicate per-batch collect was a
    pure extra driver job)."""
    bucket_of = silver.bucket_expr(["band", "chunk"], n_buckets)
    return sorted(
        r[0] for r in new_rows.select(bucket_of.alias("b")).distinct().collect()
    )


def probe(
    spark: SparkSession,
    index_dir: str,
    new_rows: DataFrame,
    max_hamming: int = 3,
    n_buckets: int = DEFAULT_N_BUCKETS,
    bands: int = 4,
    probe_buckets: list[int] | None = None,
) -> DataFrame:
    """Hamming near-dup pairs for one batch, LAZY: (id_new, id_seen,
    hamming, source) — 'index' = collision with a previously-ingested
    image (reads ONLY the buckets the batch's (band, chunk)s hash into),
    'batch' = within-batch collision. Consume BEFORE merging the batch
    (``stream_phash`` sequences this)."""
    if probe_buckets is None:
        probe_buckets = touched_buckets(new_rows, n_buckets)
    within = (
        multimodal.phash_near_dup_pairs(
            new_rows.select(F.col("media_id"), "phash").distinct(),
            id_col="media_id",
            hash_col="phash",
            max_hamming=max_hamming,
            # MUST match the index's banding: a batch-split-equivalence
            # violation hides here otherwise (within-batch pairs banded
            # differently than batch-vs-index pairs)
            bands=bands,
        )
        .select(
            F.col("id_a").alias("id_new"),
            F.col("id_b").alias("id_seen"),
            "hamming",
            F.lit("batch").alias("source"),
        )
    )
    existing = silver.read_table(spark, index_dir, buckets=probe_buckets)
    if existing is None:
        return within
    vs_index = (
        new_rows.join(
            existing.select(
                F.col("media_id").alias("id_seen"),
                "band",
                "chunk",
                F.col("phash").alias("phash_seen"),
            ),
            ["band", "chunk"],
        )
        # replayed batches: an image already in the index must not pair
        # with itself
        .filter(F.col("media_id") != F.col("id_seen"))
        .select(
            F.col("media_id").alias("id_new"),
            "id_seen",
            F.bit_count(F.col("phash").bitwiseXOR(F.col("phash_seen"))).alias("hamming"),
            F.lit("index").alias("source"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return vs_index.unionByName(within)


def update(
    spark: SparkSession,
    index_dir: str,
    new_rows: DataFrame,
    batch_id: int,
    n_buckets: int = DEFAULT_N_BUCKETS,
    touched: list[int] | None = None,
) -> list[int]:
    """Merge one batch's band rows into the index (touched buckets only;
    idempotent per batch_id). ``touched``: pass ``touched_buckets(...)``
    when the caller already collected it — the version column added here
    never changes the bucket routing."""
    return silver.merge_batch(
        spark,
        index_dir,
        new_rows.withColumn("version", F.lit(batch_id).cast("long")),
        ["media_id", "band"],
        "version",
        keep="last",
        batch_id=batch_id,
        n_buckets=n_buckets,
        bucket_by=["band", "chunk"],
        touched_buckets=touched,
    )


def probe_and_update(
    spark: SparkSession,
    index_dir: str,
    media: DataFrame,
    batch_id: int,
    max_hamming: int = 3,
    bands: int = 4,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> DataFrame:
    """Convenience batch API: probe, then advance the index; returns the
    pairs MATERIALIZED (bounded by the batch's collision count — a batch
    emitting millions of pairs means max_hamming/bands are mistuned, not
    that this collect needs to scale). Streaming callers use
    ``stream_phash``, which sinks pairs distributed instead."""
    new_rows = index_rows(media, bands).persist()
    try:
        buckets = touched_buckets(new_rows, n_buckets)
        pairs = probe(
            spark, index_dir, new_rows, max_hamming, n_buckets, bands,
            probe_buckets=buckets,
        )
        result = spark.createDataFrame(
            pairs.collect(),
            schema="id_new long, id_seen long, hamming int, source string",
        )
        update(spark, index_dir, new_rows, batch_id, n_buckets, touched=buckets)
        return result
    finally:
        new_rows.unpersist()


def stream_phash(
    spark: SparkSession,
    media_stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_hamming: int = 3,
    bands: int = 4,
    n_buckets: int = DEFAULT_N_BUCKETS,
):
    """Wire the index into Structured Streaming: per trigger, found pairs
    APPEND to ``pairs_dir`` (distributed parquet log, no driver
    materialization) and the band index advances — the foreachBatch +
    checkpoint shape of streaming/dedup_index.py:stream_dedup, so
    crash/replay semantics are identical (at-least-once appends; readers
    dedupe on (id_new, id_seen))."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new_rows = index_rows(batch_df, bands).persist()
        try:
            buckets = touched_buckets(new_rows, n_buckets)
            pairs = probe(
                spark, index_dir, new_rows, max_hamming, n_buckets, bands,
                probe_buckets=buckets,
            )
            (
                pairs.withColumn("batch_id", F.lit(batch_id).cast("long"))
                .write.mode("append")
                .parquet(pairs_dir)
            )
            update(spark, index_dir, new_rows, batch_id, n_buckets, touched=buckets)
        finally:
            new_rows.unpersist()

    writer = media_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
