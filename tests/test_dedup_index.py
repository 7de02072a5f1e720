"""Incremental LSH dedup index (streaming/dedup_index.py).

The invariant that matters: feeding a corpus through the index in ANY
batch split finds exactly the pairs the batch operator
(dedup.minhash_candidate_pairs) finds on the whole corpus at once —
incrementality changes the cost, never the answer.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from django_indexer_spark.operators import dedup
from django_indexer_spark.sources import silver
from django_indexer_spark.streaming import dedup_index

DOCS = [
    # two exact-dup clusters spanning different batches + unique docs
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs tonight"),
    (3, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    (4, "sphinx of black quartz judge my vow said the king"),
    (5, "pack my box with five dozen liquor jugs tonight"),  # dup of 2
    (6, "how vexingly quick daft zebras jump in the cold night"),
    (7, "the quick brown fox jumps over the lazy dog"),  # dup of 1,3
]


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pair_set(rows):
    return {tuple(sorted((r["id_new"], r["id_seen"]))) for r in rows}


def test_incremental_equals_batch_dedup(spark, tmp_path):
    idx = str(tmp_path / "band_index")
    batches = [DOCS[:3], DOCS[3:5], DOCS[5:]]
    found = set()
    for i, batch in enumerate(batches, start=1):
        pairs = dedup_index.probe_and_update(
            spark, idx, _docs_df(spark, batch), batch_id=i, n_buckets=8
        )
        found |= _pair_set(pairs.collect())

    whole = dedup.minhash_candidate_pairs(
        dedup_index.index_bands(_docs_df(spark, DOCS)), "doc_id"
    ).collect()
    expected = {tuple(sorted((r["id_a"], r["id_b"]))) for r in whole}
    assert found == expected
    assert {(1, 3), (1, 7), (3, 7), (2, 5)} <= found  # the planted dups

    # the index now holds every doc's band rows, keyed (doc_id, band)
    t = silver.read_table(spark, idx)
    assert t.select("doc_id").distinct().count() == len(DOCS)
    m = silver.read_manifest(idx)
    assert m["bucket_by"] == ["band", "band_key"]


def test_replay_is_idempotent(spark, tmp_path):
    idx = str(tmp_path / "band_index")
    dedup_index.probe_and_update(spark, idx, _docs_df(spark, DOCS[:3]), batch_id=1, n_buckets=8)
    before = sorted(map(tuple, silver.read_table(spark, idx).collect()))
    p2a = dedup_index.probe_and_update(spark, idx, _docs_df(spark, DOCS[3:5]), batch_id=2, n_buckets=8)
    s2a = _pair_set(p2a.collect())
    # crash-replay of batch 2: same docs, same batch_id
    p2b = dedup_index.probe_and_update(spark, idx, _docs_df(spark, DOCS[3:5]), batch_id=2, n_buckets=8)
    s2b = _pair_set(p2b.collect())
    assert s2a == s2b  # same pairs re-found (source may differ: index vs batch)
    after = sorted(map(tuple, silver.read_table(spark, idx).collect()))
    assert len(after) == len(before) + 2 * 4  # 2 new docs x 4 bands, no dup rows
    # no self-pairs ever
    assert all(a != b for a, b in s2b)


def test_probe_reads_only_colliding_buckets(spark, tmp_path):
    idx = str(tmp_path / "band_index")
    dedup_index.probe_and_update(spark, idx, _docs_df(spark, DOCS), batch_id=1, n_buckets=8)
    # a probe for ONE doc must scan a strict subset of bucket dirs
    new_bands = dedup_index.index_bands(_docs_df(spark, [DOCS[0]]))
    bucket_of = silver.bucket_expr(["band", "band_key"], 8)
    probed = {r[0] for r in new_bands.select(bucket_of).distinct().collect()}
    manifest = silver.read_manifest(idx)
    all_buckets = set(int(k) for k in manifest["buckets"])
    assert probed < all_buckets or len(all_buckets) <= len(probed) <= 4
    sub = silver.read_table(spark, idx, buckets=sorted(probed))
    files = {r[0] for r in sub.select(F.input_file_name()).distinct().collect()}
    probed_dirs = [
        silver.version_dir(idx, b, manifest["buckets"][str(b)]) for b in probed
    ]
    assert all(any(f"{p}/" in f for p in probed_dirs) for f in files)


def test_stream_dedup_end_to_end(spark, tmp_path):
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "band_index")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    # two files -> two micro-batches (maxFilesPerTrigger=1)
    _docs_df(spark, DOCS[:3]).coalesce(1).write.parquet(f"{src}/f1")
    _docs_df(spark, DOCS[3:]).coalesce(1).write.parquet(f"{src}/f2")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = dedup_index.stream_dedup(
        spark, stream, idx, pairs_dir, ckpt, available_now=True, n_buckets=8
    )
    q.awaitTermination(120)

    got = _pair_set(spark.read.parquet(pairs_dir).collect())
    whole = dedup.minhash_candidate_pairs(
        dedup_index.index_bands(_docs_df(spark, DOCS)), "doc_id"
    ).collect()
    assert got == {tuple(sorted((r["id_a"], r["id_b"]))) for r in whole}
    # index advanced under the stream's checkpointed batches
    assert silver.read_table(spark, idx).select("doc_id").distinct().count() == len(DOCS)
    assert glob.glob(f"{ckpt}/offsets/*"), "stream did not checkpoint"
