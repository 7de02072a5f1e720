"""The replay contract of the streaming index gate (streaming/index_gate.py),
for every index that runs through it: a full replay from a fresh
checkpoint (same files, same batch ids) leaves the result log and the
index holding exactly the first run's rows."""

from __future__ import annotations

import pytest

from django_indexer_spark.sources import silver
from django_indexer_spark.streaming import ann_index, dedup_index, phash_index
from test_ann_index import DIM, K, VECS, _vec_df
from test_dedup_index import DOCS, _docs_df
from test_phash_index import _media_df, _media_rows

CASES = {
    "dedup": (
        lambda spark: (_docs_df(spark, DOCS[:3]), _docs_df(spark, DOCS[3:])),
        lambda spark, stream, idx, log, ckpt: dedup_index.stream_dedup(
            spark, stream, idx, log, ckpt, n_buckets=8
        ),
        ("id_new", "id_seen"),
    ),
    "ann": (
        lambda spark: (_vec_df(spark, VECS[:5]), _vec_df(spark, VECS[5:])),
        lambda spark, stream, idx, log, ckpt: ann_index.stream_ann(
            spark, stream, idx, log, ckpt, k=K, n_planes=2, dim=DIM, n_buckets=8
        ),
        ("q_id", "c_id"),
    ),
    "phash": (
        lambda spark: (_media_df(spark, _media_rows()[:3]), _media_df(spark, _media_rows()[3:])),
        lambda spark, stream, idx, log, ckpt: phash_index.stream_phash(
            spark, stream, idx, log, ckpt, n_buckets=8
        ),
        ("id_new", "id_seen"),
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_stream_full_replay_is_exactly_once(spark, tmp_path, name):
    inputs, start, (a, b) = CASES[name]
    src, idx, log = (str(tmp_path / d) for d in ("in", "index", "log"))
    first, second = inputs(spark)
    first.coalesce(1).write.parquet(f"{src}/f1")
    second.coalesce(1).write.parquet(f"{src}/f2")

    def run(ckpt: str) -> tuple:
        stream = (
            spark.readStream.schema(first.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = start(spark, stream, idx, log, str(tmp_path / ckpt))
        assert q.awaitTermination(120), f"{name} stream timed out"
        rows = spark.read.parquet(log).collect()
        return (
            len(rows),
            {(r[a], r[b]) for r in rows},
            {r["batch_id"] for r in rows},
            silver.read_table(spark, idx).count(),
        )

    once = run("ckpt1")
    assert once[0] > 0 and once[2] == {0, 1}  # both batches logged rows
    assert run("ckpt2") == once  # full replay: same files, same batch ids


def test_stream_without_results_leaves_a_readable_log(spark, tmp_path):
    """Batches that find no pair still write their log partition with
    the schema, so a log that never got a row opens as an empty table."""
    unique = [DOCS[1], DOCS[3]], [DOCS[5]]  # no near-dups among them
    src, log = str(tmp_path / "in"), str(tmp_path / "log")
    for i, rows in enumerate(unique):
        _docs_df(spark, rows).coalesce(1).write.parquet(f"{src}/f{i}")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = dedup_index.stream_dedup(
        spark, stream, str(tmp_path / "index"), log, str(tmp_path / "ckpt"), n_buckets=8
    )
    assert q.awaitTermination(120), "dedup stream timed out"
    pairs = spark.read.parquet(log)
    assert pairs.count() == 0
    assert {"id_new", "id_seen", "source", "batch_id"} <= set(pairs.columns)
