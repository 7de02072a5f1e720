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
- per micro-batch (foreachBatch, exactly like pipeline.stream_ingest):
    1. bucket + norm the incoming vectors (narrow map);
    2. candidates = colliding silver buckets UNION the batch itself
       (so two vectors arriving together still see each other), deduped
       on vec_id so a crash-replay cannot double-score a neighbor;
    3. exact cosine inside the bucket equi-join, top-k per new vector
       (``similarity.lsh_ann_topk``'s join shape against stored state);
    4. sink the neighbor rows (distributed append — no driver
       materialization);
    5. merge the batch's index rows in (touched buckets only).

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

DEFAULT_N_BUCKETS = 16


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


def touched_buckets(new_rows: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> list[int]:
    """The batch's distinct physical-bucket ids — ONE collect shared by
    the single-probe ``probe`` and ``update`` (identical
    ``bucket_expr(["bucket"])`` over the same rows; round-13, the extra
    per-batch collect was a pure duplicate driver job). Multi-probe
    queries fan out to MORE buckets than the batch writes, so a
    multi-probe ``probe`` must keep its own collect."""
    bucket_of = silver.bucket_expr(["bucket"], n_buckets)
    return sorted(
        r[0] for r in new_rows.select(bucket_of.alias("b")).distinct().collect()
    )


def probe(
    spark: SparkSession,
    index_dir: str,
    new_rows: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_buckets: int = DEFAULT_N_BUCKETS,
    multi_probe: bool = False,
    round_dp: int = 6,
    probe_buckets: list[int] | None = None,
) -> DataFrame:
    """Top-k neighbors for one batch of index rows, LAZY: (q_id, c_id,
    cosine, rnk). Candidates are the union of (a) previously-ingested
    vectors in the probed silver buckets and (b) the batch itself, deduped
    on vec_id (a replayed batch's rows already sit in the index — without
    the dedup they would score twice and shift ranks).

    Consume the result BEFORE merging the same batch into the index;
    ``probe_and_update``/``stream_ann`` sequence this correctly.
    """
    queries = new_rows.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("vnorm").alias("q_norm"),
        "bucket",
    )
    if multi_probe:
        home = F.col("bucket")
        probes = F.array(home, *[home.bitwiseXOR(F.lit(2**p)) for p in range(n_planes)])
        queries = queries.withColumn("bucket", F.explode(probes))

    if probe_buckets is None or multi_probe:
        # multi-probe fans queries out past the batch's own buckets — a
        # caller-supplied write-side set would under-read; re-collect
        bucket_of = silver.bucket_expr(["bucket"], n_buckets)
        probe_buckets = sorted(
            r[0] for r in queries.select(bucket_of.alias("b")).distinct().collect()
        )
    existing = silver.read_table(spark, index_dir, buckets=probe_buckets)
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


def update(
    spark: SparkSession,
    index_dir: str,
    new_rows: DataFrame,
    batch_id: int,
    n_buckets: int = DEFAULT_N_BUCKETS,
    touched: list[int] | None = None,
) -> list[int]:
    """Merge one batch's index rows in (touched buckets only; idempotent
    per batch_id). ``touched``: pass ``touched_buckets(...)`` when the
    caller already collected it — the version column added here never
    changes the bucket routing."""
    return silver.merge_batch(
        spark,
        index_dir,
        new_rows.withColumn("version", F.lit(batch_id).cast("long")),
        ["vec_id"],
        "version",
        keep="last",
        batch_id=batch_id,
        n_buckets=n_buckets,
        bucket_by=["bucket"],
        touched_buckets=touched,
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
    n_buckets: int = DEFAULT_N_BUCKETS,
    multi_probe: bool = False,
) -> DataFrame:
    """Convenience batch API: probe, then advance the index; returns the
    neighbor rows MATERIALIZED (driver-side — bounded by batch × k).
    Streaming callers use ``stream_ann``, which sinks distributed."""
    new_rows = index_rows(vecs, id_col, vec_col, n_planes, dim).persist()
    try:
        buckets = touched_buckets(new_rows, n_buckets)
        found = probe(
            spark, index_dir, new_rows, k, n_planes, n_buckets, multi_probe,
            probe_buckets=buckets,
        )
        result = spark.createDataFrame(
            found.collect(),
            schema="q_id long, c_id long, cosine double, rnk int",
        )
        update(spark, index_dir, new_rows, batch_id, n_buckets, touched=buckets)
        return result
    finally:
        new_rows.unpersist()


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
    n_buckets: int = DEFAULT_N_BUCKETS,
    multi_probe: bool = False,
):
    """Wire the index into Structured Streaming: per trigger, each new
    vector's top-k neighbors (among everything ingested up to and
    including its own batch) APPEND to ``neighbors_dir`` and the bucket
    index advances. Same foreachBatch + checkpoint shape as
    pipeline.stream_ingest — crash/replay re-appends the same neighbor
    rows (at-least-once log; readers dedupe on (q_id, c_id))."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new_rows = index_rows(batch_df, id_col, vec_col, n_planes, dim).persist()
        try:
            buckets = touched_buckets(new_rows, n_buckets)
            found = probe(
                spark, index_dir, new_rows, k, n_planes, n_buckets, multi_probe,
                probe_buckets=buckets,
            )
            (
                found.withColumn("batch_id", F.lit(batch_id).cast("long"))
                .write.mode("append")
                .parquet(neighbors_dir)
            )
            update(spark, index_dir, new_rows, batch_id, n_buckets, touched=buckets)
        finally:
            new_rows.unpersist()

    writer = vec_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
