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
- this module holds only the domain code: the band rows
  (``index_bands``), the probe join (``probe``: candidate pairs vs the
  EXISTING index = equi-join on (band, band_key) against ONLY the
  colliding buckets, plus the within-batch self-join
  ``dedup.minhash_candidate_pairs``) and the key and ``bucket_by``
  columns (``spec``). The per-batch steps — bucket collect, versioned
  probe read, ``batch_id``-partitioned pairs log, index merge, stream
  start — and the replay contract are ``streaming/index_gate.py``'s:
  a replayed batch re-finds exactly its first run's pairs and rewrites
  its own log partition.

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
from . import index_gate


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


def probe(existing: DataFrame | None, new_bands: DataFrame) -> DataFrame:
    """Candidate pairs for one batch of band rows, LAZY: ``(id_new,
    id_seen, source)`` — 'index' = collision with a previously-ingested
    doc in ``existing`` (the colliding buckets of the index, opened by
    the gate), 'batch' = within-batch collision."""
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
        # a doc re-ingested under its own id must not pair with itself
        .filter(F.col("doc_id") != F.col("id_seen"))
        .select(
            F.col("doc_id").alias("id_new"),
            "id_seen",
            F.lit("index").alias("source"),
        )
        .distinct()
    )
    return vs_index.unionByName(within)


def spec(text_col: str, id_col: str, num_hashes: int, bands: int) -> index_gate.IndexSpec:
    """The band index as an ``index_gate`` spec: keyed ``(doc_id, band)``,
    bucketed by ``(band, band_key)``."""
    return index_gate.IndexSpec(
        rows=lambda docs: index_bands(docs, text_col, id_col, num_hashes, bands),
        probe=probe,
        key=["doc_id", "band"], bucket_by=["band", "band_key"],
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
    n_buckets: int = silver.DEFAULT_N_BUCKETS,
) -> DataFrame:
    """Probe, then advance the index; returns the pairs MATERIALIZED (a
    batch emitting millions of candidate pairs means the band curve is
    mistuned, not that this collect needs to scale). Streaming callers
    use ``stream_dedup``, which writes pairs distributed instead."""
    return index_gate.run_batch(
        spark, spec(text_col, id_col, num_hashes, bands), index_dir, docs,
        batch_id, n_buckets,
    )


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
    n_buckets: int = silver.DEFAULT_N_BUCKETS,
):
    """Per trigger, the found pairs go to ``pairs_dir`` (a
    ``batch_id``-partitioned parquet log of near-dup events) and the
    band index advances (``index_gate.stream``)."""
    return index_gate.stream(
        spark, spec(text_col, id_col, num_hashes, bands), docs_stream,
        index_dir, pairs_dir, checkpoint_dir, available_now, n_buckets,
    )
