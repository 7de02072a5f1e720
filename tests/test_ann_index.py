"""Incremental sign-LSH ANN index (streaming/ann_index.py).

The invariant: feeding a corpus through the index in ANY batch split
gives every vector exactly the neighbors similarity.lsh_ann_topk finds
for it over the prefix of the corpus ingested up to and including its
own batch — incrementality changes the cost, never the answer.
"""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from django_indexer_spark.operators import similarity
from django_indexer_spark.sources import silver
from django_indexer_spark.streaming import ann_index

DIM = 4
K = 3
# two tight clusters + scattered singles, ids interleaved across batches
VECS = [
    (0, [1.0, 0.05, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.1]),
    (2, [0.0, 1.0, 0.1, 0.0]),
    (3, [0.1, 0.9, 0.0, 0.05]),
    (4, [0.95, 0.02, 0.05, 0.0]),
    (5, [0.0, 0.0, 1.0, 0.2]),
    (6, [0.05, 1.0, 0.05, 0.0]),
    (7, [0.0, 0.1, 0.9, 0.1]),
    (8, [0.8, 0.0, 0.1, 0.0]),
    (9, [0.0, 0.95, 0.0, 0.1]),
]


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _expected_for_split(spark, split):
    """Per-batch lsh_ann_topk over the prefix ending at that batch."""
    rows = set()
    seen: list = []
    for batch in split:
        seen = seen + batch
        got = similarity.lsh_ann_topk(
            _vec_df(spark, batch),
            _vec_df(spark, seen),
            "vec_id",
            "vec_id",
            "embedding",
            k=K,
            n_planes=2,
            dim=DIM,
        ).collect()
        rows |= {(r["q_id"], r["c_id"], r["cosine"], r["rnk"]) for r in got}
    return rows


def test_incremental_equals_prefix_ann(spark, tmp_path):
    idx = str(tmp_path / "ann_index")
    split = [VECS[:4], VECS[4:7], VECS[7:]]
    found = set()
    for i, batch in enumerate(split, start=1):
        out = ann_index.probe_and_update(
            spark, idx, _vec_df(spark, batch), batch_id=i,
            k=K, n_planes=2, dim=DIM, n_buckets=8,
        )
        found |= {(r["q_id"], r["c_id"], r["cosine"], r["rnk"]) for r in out.collect()}
    assert found == _expected_for_split(spark, split)
    # index state: one row per vector, bucketed by the LSH bucket
    t = silver.read_table(spark, idx)
    assert t.select("vec_id").distinct().count() == len(VECS)
    assert silver.read_manifest(idx)["bucket_by"] == ["bucket"]


def test_replay_is_idempotent_and_never_self_pairs(spark, tmp_path):
    idx = str(tmp_path / "ann_index")
    ann_index.probe_and_update(
        spark, idx, _vec_df(spark, VECS[:5]), batch_id=1,
        k=K, n_planes=2, dim=DIM, n_buckets=8,
    )
    before = sorted(map(tuple, silver.read_table(spark, idx).collect()))
    a = ann_index.probe_and_update(
        spark, idx, _vec_df(spark, VECS[5:8]), batch_id=2,
        k=K, n_planes=2, dim=DIM, n_buckets=8,
    ).collect()
    # crash-replay of batch 2: same vecs, same batch_id
    b = ann_index.probe_and_update(
        spark, idx, _vec_df(spark, VECS[5:8]), batch_id=2,
        k=K, n_planes=2, dim=DIM, n_buckets=8,
    ).collect()
    key = lambda rows: sorted((r["q_id"], r["c_id"], r["cosine"], r["rnk"]) for r in rows)
    assert key(a) == key(b)  # the replayed rows in the index don't double-score
    assert all(r["q_id"] != r["c_id"] for r in b)
    after = sorted(map(tuple, silver.read_table(spark, idx).collect()))
    assert len(after) == len(before) + 3  # one index row per new vector, no dups


def test_probe_reads_only_colliding_buckets(spark, tmp_path):
    idx = str(tmp_path / "ann_index")
    ann_index.probe_and_update(
        spark, idx, _vec_df(spark, VECS), batch_id=1,
        k=K, n_planes=2, dim=DIM, n_buckets=8,
    )
    one = ann_index.index_rows(_vec_df(spark, [VECS[0]]), n_planes=2, dim=DIM)
    probed = {
        r[0]
        for r in one.select(silver.bucket_expr(["bucket"], 8)).distinct().collect()
    }
    sub = silver.read_table(spark, idx, buckets=sorted(probed))
    files = {r[0] for r in sub.select(F.input_file_name()).distinct().collect()}
    manifest = silver.read_manifest(idx)
    probed_dirs = [
        silver.version_dir(idx, b, manifest["buckets"][str(b)]) for b in probed
    ]
    assert files and all(any(f"{p}/" in f for p in probed_dirs) for f in files)


def test_stream_ann_end_to_end(spark, tmp_path):
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "ann_index")
    nbr = str(tmp_path / "neighbors")
    ckpt = str(tmp_path / "ckpt")
    split = [VECS[:5], VECS[5:]]
    _vec_df(spark, split[0]).coalesce(1).write.parquet(f"{src}/f1")
    _vec_df(spark, split[1]).coalesce(1).write.parquet(f"{src}/f2")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = ann_index.stream_ann(
        spark, stream, idx, nbr, ckpt, available_now=True,
        k=K, n_planes=2, dim=DIM, n_buckets=8,
    )
    q.awaitTermination(120)
    got = {
        (r["q_id"], r["c_id"], r["cosine"], r["rnk"])
        for r in spark.read.parquet(nbr).collect()
    }
    assert got == _expected_for_split(spark, split)
    assert silver.read_table(spark, idx).select("vec_id").distinct().count() == len(VECS)
    assert glob.glob(f"{ckpt}/offsets/*"), "stream did not checkpoint"


def test_probe_multi_probe_dominates_single(spark, tmp_path):
    # the same index state probed both ways, each through the gate's own
    # bucket read (multi-probe reads the fanned-out bucket set)
    found = {}
    for multi_probe in (False, True):
        idx = str(tmp_path / f"ann_index_{multi_probe}")
        ann_index.probe_and_update(
            spark, idx, _vec_df(spark, VECS[:8]), batch_id=1,
            k=K, n_planes=2, dim=DIM, n_buckets=8,
        )
        found[multi_probe] = ann_index.probe_and_update(
            spark, idx, _vec_df(spark, VECS[8:]), batch_id=2,
            k=K, n_planes=2, dim=DIM, n_buckets=8, multi_probe=multi_probe,
        )
    single, multi = found[False], found[True]
    s = {(r["q_id"], r["c_id"]) for r in single.collect()}
    m = {(r["q_id"], r["c_id"]) for r in multi.collect()}
    # multi-probe scores a superset of candidates -> per-query best-k
    # cosine sum can only improve; simplest dominance check: every query
    # answered by single-probe is answered by multi-probe with >= as many
    # neighbors
    from collections import Counter
    cs, cm = Counter(q for q, _ in s), Counter(q for q, _ in m)
    assert all(cm[q] >= n for q, n in cs.items())
