"""Idempotent upsert — SURVEY.md §2.1 S3 / §2.9 T3.

The reference makes every write replay-safe with update_or_create /
bulk_create(ignore_conflicts=True) keyed on natural keys
(utils.py:978-982, 418-431; constraints donations/models.py:188-200).
That is the cornerstone of its at-least-once streaming model: the stream
resumes at checkpoint-1 (tasks.py:104-107), the backfill command re-plays
history (populatedata.py), and duplicates collapse in the store.

Spark-native equivalent, pure-parquet (no Delta dependency in this
container): LAST-WRITER-WINS dedup —

    union(existing, incoming) -> row_number() over (
        partition by natural_key order by version desc) = 1

On a Delta/Iceberg table this becomes MERGE INTO (same keys); the
``merge_statement`` helper renders it for production use.

Scale notes: the window shuffles on the natural key — the same shuffle a
MERGE's join needs; with the target table bucketed/clustered by the key the
shuffle is one-sided. Versions must be totally ordered per key; we use
(block_height, receipt_ordinal) for stream data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def upsert(
    existing: DataFrame | None,
    incoming: DataFrame,
    natural_key: list[str],
    version_col: str,
    keep: str = "last",
) -> DataFrame:
    """Merge of ``incoming`` into ``existing`` keyed on the natural key.

    keep='last'  → last-writer-wins: update_or_create overwrite semantics
                   (utils.py:978-982); for equal versions incoming wins.
    keep='first' → first-writer-wins: bulk_create(ignore_conflicts=True)
                   semantics (utils.py:427-431); existing rows survive.

    Both frames must have the same column names, ``version_col`` among
    them (matched by name; the winner's row is taken whole).
    """
    if keep not in ("last", "first"):
        raise ValueError(f"keep must be 'last' or 'first', got {keep!r}")
    inc = incoming.withColumn("__src", F.lit(1))
    if existing is None:
        all_rows = inc
    else:
        all_rows = existing.withColumn("__src", F.lit(0)).unionByName(inc)
    if keep == "last":
        order = [F.col(version_col).desc_nulls_last(), F.col("__src").desc()]
    else:
        order = [F.col(version_col).asc_nulls_last(), F.col("__src").asc()]
    w = Window.partitionBy(*natural_key).orderBy(*order)
    return (
        all_rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def merge_statement(
    target: str,
    source: str,
    natural_key: list[str],
    columns: list[str],
    version_col: str | None = "version",
) -> str:
    """Render the production MERGE INTO (Delta/Iceberg) for the same
    semantics — documentation + integration-test artifact.

    ``version_col`` guards WHEN MATCHED so stale replays never overwrite
    newer rows (the exact last-writer rule ``upsert`` implements; pass
    None for unconditional update = plain update_or_create)."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in natural_key)
    sets = ", ".join(f"t.{c} = s.{c}" for c in columns)
    cols = ", ".join(columns)
    vals = ", ".join(f"s.{c}" for c in columns)
    matched = (
        f"WHEN MATCHED AND s.{version_col} >= t.{version_col} THEN UPDATE SET {sets} "
        if version_col
        else f"WHEN MATCHED THEN UPDATE SET {sets} "
    )
    return (
        f"MERGE INTO {target} t USING {source} s ON {on} "
        + matched
        + f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def cdc_apply(
    snapshot: DataFrame | None,
    changes: DataFrame,
    natural_key: list[str],
    version_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    retain_tombstones: bool = False,
) -> DataFrame:
    """Apply a CDC change log (insert/update/DELETE ops) to a snapshot —
    ``upsert`` extended with tombstones. The reference only ever upserts
    (utils.py:978-982 update_or_create has no delete path); a lakehouse
    sink replaying an external CDC feed (Debezium-style op column) also
    needs deletes, so this is the S3 sink completed for removals.

    ``retain_tombstones`` keeps winning delete rows IN the result
    (op = delete_op) instead of dropping them. An INCREMENTAL consumer
    that folds the log batch-by-batch MUST retain them in its state:
    dropping a tombstone between batches lets a LATER-ARRIVING,
    earlier-versioned upsert resurrect the key (the classic CDC
    compaction bug). With tombstones retained, per-key top-1-by-version
    is associative — fold(any batch split) == apply(whole log) — and
    readers filter ``op != delete_op`` at query time (see the
    ``s_stream_cdc_apply`` gate, which proves the invariance on real
    micro-batches).

    Rules (all arrival-order independent, so the log may be replayed,
    reordered, or split across batches — same idempotence contract as
    ``upsert``):
    - per natural key, the HIGHEST ``version_col`` row wins (change rows
      beat snapshot rows on equal versions);
    - if the winner's ``op_col`` equals ``delete_op`` the key is absent
      from the result (tombstone) — a later-versioned insert resurrects
      it, an earlier one stays dead, exactly as MERGE INTO ... WHEN
      MATCHED AND s.op = 'D' THEN DELETE composes with last-writer-wins;
    - any other op value is an upsert carrying the full row.

    ``snapshot`` must NOT have ``op_col`` (its rows are implicit upserts
    at their own version); ``changes`` must. Scale: ONE shuffle on the
    natural key — identical to the MERGE join; tombstoned keys cost one
    winner row each, no second pass.
    """
    if snapshot is not None and op_col in snapshot.columns:
        raise ValueError(
            f"snapshot already has op column {op_col!r} — snapshot rows "
            "are implicit upserts; rename or drop it"
        )
    if op_col not in changes.columns:
        raise ValueError(f"changes is missing op column {op_col!r}")
    if snapshot is not None:
        snapshot = snapshot.withColumn(op_col, F.lit("I"))
    out = upsert(snapshot, changes, natural_key, version_col, keep="last")
    return out if retain_tombstones else out.filter(F.col(op_col) != delete_op)
