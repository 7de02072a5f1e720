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
- this module holds only the domain code: the index rows
  (``index_rows``: hash the incoming images, Arrow-batched decode,
  blobs never shuffle), the probe (``probe``: Hamming candidates from
  the colliding buckets, verified JVM-side with bit_count(xor) <=
  max_hamming, plus the within-batch pairs) and the key and
  ``bucket_by`` columns (``spec``). The per-batch steps — bucket
  collect, versioned probe read, ``batch_id``-partitioned pairs log,
  index merge, stream start — and the replay contract are
  ``streaming/index_gate.py``'s.

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
from . import index_gate


def index_rows(media: DataFrame, bands: int = 4) -> DataFrame:
    """Index rows for one batch of media: (media_id, band, chunk, phash)
    — undecodable payloads hash to null and are dropped (they can't be
    perceptual near-dups of anything)."""
    hashes = multimodal.image_phash(media)
    return multimodal.phash_chunks(hashes, "media_id", "phash", bands).select(
        F.col("id").alias("media_id"), "band", "chunk", F.col("h").alias("phash")
    )


def probe(
    existing: DataFrame | None, new_rows: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Hamming near-dup pairs for one batch, LAZY: (id_new, id_seen,
    hamming, source) — 'index' = collision with a previously-ingested
    image in ``existing`` (the colliding buckets of the index, opened by
    the gate), 'batch' = within-batch collision."""
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
        # an image re-ingested under its own id must not pair with itself
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


def spec(max_hamming: int, bands: int) -> index_gate.IndexSpec:
    """The band index as an ``index_gate`` spec: keyed ``(media_id,
    band)``, bucketed by ``(band, chunk)``."""
    return index_gate.IndexSpec(
        rows=lambda media: index_rows(media, bands),
        probe=lambda existing, rows: probe(existing, rows, max_hamming, bands),
        key=["media_id", "band"], bucket_by=["band", "chunk"],
    )


def probe_and_update(
    spark: SparkSession,
    index_dir: str,
    media: DataFrame,
    batch_id: int,
    max_hamming: int = 3,
    bands: int = 4,
    n_buckets: int = silver.DEFAULT_N_BUCKETS,
) -> DataFrame:
    """Probe, then advance the index; returns the pairs MATERIALIZED (a
    batch emitting millions of pairs means max_hamming/bands are
    mistuned, not that this collect needs to scale). Streaming callers
    use ``stream_phash``, which writes pairs distributed instead."""
    return index_gate.run_batch(
        spark, spec(max_hamming, bands), index_dir, media, batch_id, n_buckets
    )


def stream_phash(
    spark: SparkSession,
    media_stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_hamming: int = 3,
    bands: int = 4,
    n_buckets: int = silver.DEFAULT_N_BUCKETS,
):
    """Per trigger, the found pairs go to ``pairs_dir`` (a
    ``batch_id``-partitioned parquet log) and the band index advances
    (``index_gate.stream``)."""
    return index_gate.stream(
        spark, spec(max_hamming, bands), media_stream, index_dir, pairs_dir,
        checkpoint_dir, available_now, n_buckets,
    )
