"""Incremental ANN index over a streaming embedding corpus.

The batch similarity family (operators/similarity.py) answers "what are
the top-k neighbors inside THIS table" — O(corpus) per run. An embedding
ingest (retrieval corpora, semantic-dedup feeds, online near-dup checks)
needs the incremental question: as vectors arrive, what are their nearest
neighbors among everything ingested SO FAR, without rescoring the corpus.
(The reference has no vector pipeline — this extends its incremental-
indexer loop, indexer_app/handler.py:33-60's "process only the new block"
shape, to the embedding operators this engine adds as first-class.)

Design — a persistent sign-LSH bucket index as a silver table, the
vector twin of streaming/dedup_index.py:

- rows are ``(vec_id, bucket, vnorm, embedding, version)``: the
  deterministic sign-LSH bucket (similarity.plane_weights — a pure
  function of (plane, dim), identical across engines and sessions), the
  precomputed norm (never re-folded at probe time) and the raw vector;
- upsert key is ``vec_id``; the table is BUCKETED BY ``bucket``
  (``merge_batch(bucket_by=["bucket"])``): a probe reads only the
  physical buckets the batch's (multi-)probe LSH buckets hash into —
  probe cost scales with the BATCH, not the corpus;
- this module holds only the domain code: the index rows
  (``index_rows``), the probe (``probe``: candidates = colliding silver
  buckets UNION the batch itself, so two vectors arriving together
  still see each other, deduped on vec_id; exact cosine inside the
  bucket equi-join, top-k per new vector — ``similarity.lsh_ann_topk``'s
  join shape against stored state) and the key, ``bucket_by`` and
  multi-probe read set (``spec``). The per-batch steps — bucket
  collect, versioned probe read, ``batch_id``-partitioned neighbors log,
  index merge, stream start — and the replay contract are
  ``streaming/index_gate.py``'s.

INVARIANT (tests/test_ann_index.py): feeding a corpus through in ANY
batch split yields, for every vector, exactly the neighbors
``similarity.lsh_ann_topk`` finds for it over the prefix of the corpus
ingested up to and including its own batch — incrementality changes the
cost, never the answer.

IMMUTABILITY CONTRACT (from merge_batch's bucket_by): a vec_id's
embedding — hence its LSH bucket — must not change across batches;
mutate by reingesting under a new id or rebuilding (the standard
LSH-index restriction).

At 100 TB: the index holds one row per vector, each probe shuffles only
the batch plus its colliding buckets, multi-probe fans out only the
QUERY side (n_planes+1 probes), and the top-k window partitions by query
id — bounded by the probed buckets' population, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity
from ..sources import silver
from . import index_gate


def index_rows(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Index rows for one batch: (vec_id, bucket, vnorm, embedding)."""
    w = similarity.plane_weights(n_planes, dim)
    return vecs.select(
        F.col(id_col).alias("vec_id"),
        similarity.sign_bucket(F.col(vec_col), w).alias("bucket"),
        similarity.norm(F.col(vec_col)).alias("vnorm"),
        F.col(vec_col).alias("embedding"),
    )


def _multi_probe(rows: DataFrame, n_planes: int) -> DataFrame:
    """One row per probed LSH bucket: the home bucket and its one-bit
    neighbors."""
    home = F.col("bucket")
    probes = F.array(home, *[home.bitwiseXOR(F.lit(2**p)) for p in range(n_planes)])
    return rows.withColumn("bucket", F.explode(probes))


def probe(
    existing: DataFrame | None, new_rows: DataFrame, k: int = 5, n_planes: int = 4,
    multi_probe: bool = False, round_dp: int = 6,
) -> DataFrame:
    """Top-k neighbors for one batch of index rows, LAZY: (q_id, c_id,
    cosine, rnk). Candidates are the union of (a) previously-ingested
    vectors in ``existing`` (the probed buckets of the index, opened by
    the gate) and (b) the batch itself, deduped on vec_id (a vector
    re-ingested under its own id would otherwise score twice and shift
    ranks)."""
    queries = new_rows.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("vnorm").alias("q_norm"),
        "bucket",
    )
    if multi_probe:
        queries = _multi_probe(queries, n_planes)
    cand = new_rows.select("vec_id", "bucket", "vnorm", "embedding")
    if existing is not None:
        cand = cand.unionByName(
            existing.select("vec_id", "bucket", "vnorm", "embedding")
        ).dropDuplicates(["vec_id"])
    scored = (
        cand.select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("c_vec"),
            F.col("vnorm").alias("c_norm"),
            "bucket",
        )
        .join(F.broadcast(queries), "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "cosine",
            F.round(
                similarity.dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                round_dp,
            ),
        )
        .select("q_id", "c_id", "cosine")
        .distinct()  # multi-probe can reach the same candidate twice
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "c_id", "cosine", "rnk")
    )


def spec(
    id_col: str, vec_col: str, k: int, n_planes: int, dim: int, multi_probe: bool
) -> index_gate.IndexSpec:
    """The bucket index as an ``index_gate`` spec: keyed ``vec_id``,
    bucketed by the LSH ``bucket``. Multi-probe reads every bucket its
    queries fan out to, which is more than the batch writes."""
    return index_gate.IndexSpec(
        rows=lambda vecs: index_rows(vecs, id_col, vec_col, n_planes, dim),
        probe=lambda existing, rows: probe(existing, rows, k, n_planes, multi_probe),
        key=["vec_id"], bucket_by=["bucket"],
        probe_rows=(lambda rows: _multi_probe(rows, n_planes)) if multi_probe else None,
    )


def probe_and_update(
    spark: SparkSession,
    index_dir: str,
    vecs: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    n_buckets: int = silver.DEFAULT_N_BUCKETS,
    multi_probe: bool = False,
) -> DataFrame:
    """Probe, then advance the index; returns the neighbor rows
    MATERIALIZED (bounded by batch × k). Streaming callers use
    ``stream_ann``, which writes them distributed."""
    return index_gate.run_batch(
        spark, spec(id_col, vec_col, k, n_planes, dim, multi_probe), index_dir,
        vecs, batch_id, n_buckets,
    )


def stream_ann(
    spark: SparkSession,
    vec_stream: DataFrame,
    index_dir: str,
    neighbors_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    n_buckets: int = silver.DEFAULT_N_BUCKETS,
    multi_probe: bool = False,
):
    """Per trigger, each new vector's top-k neighbors (among everything
    ingested up to and including its own batch) go to ``neighbors_dir``
    (a ``batch_id``-partitioned parquet log) and the bucket index
    advances (``index_gate.stream``)."""
    return index_gate.stream(
        spark, spec(id_col, vec_col, k, n_planes, dim, multi_probe), vec_stream,
        index_dir, neighbors_dir, checkpoint_dir, available_now, n_buckets,
    )
