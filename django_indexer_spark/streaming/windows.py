"""Event-time windowed streaming aggregation with late-data handling.

The reference has no event-time windows (its beat jobs recompute whole
tables every 5 min — SURVEY.md §2.9 T5/T6), so this is an engine
extension: the Structured Streaming path for continuous per-window gold
metrics (donations per pot per hour, block throughput, etc.).

Semantics (Spark-native, SURVEY.md §2.9 note on watermarks):
  - tumbling windows over the event-time column;
  - watermark = max(event time seen) - delay; state for windows entirely
    below the watermark is evicted (bounded state — the property that
    keeps an unbounded 100 TB stream's aggregation memory finite);
  - input rows older than the watermark are dropped as too-late (in
    update/append output modes) — the deliberate trade against unbounded
    reprocessing; the reference's equivalent repair loop (T5) is the
    batch backfill over the same normalizers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Tumbling-window aggregation with a watermark.

    Returns window_start/window_end + group cols + aggregates (default:
    row count). Works identically on a batch DataFrame (watermark is a
    no-op there) — one definition serves both the streaming gold job and
    its batch backfill, the one-path rule the ingest pipeline follows.
    """
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    agged = (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration), *(group_cols or []))
        .agg(*aggs)
    )
    rest = [c for c in agged.columns if c != "window"]
    return agged.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *rest,
    )


def watermarked_exact_dedup(
    stream: DataFrame,
    id_cols: list[str],
    ts_col: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Bounded-state streaming dedup: drop redeliveries of the same key
    that arrive within ``watermark_delay`` of the original's event time.

    The ingest transport is at-least-once (the reference redelivers a
    block batch whenever its asyncio handler dies mid-way —
    tasks.py:51-90 re-enters at the last saved height, and the ORM
    absorbs replays via get_or_create/update_or_create per row). The
    Spark-native absorber for APPEND-shaped sinks is
    ``dropDuplicatesWithinWatermark``: keep per-key state only until the
    watermark passes the key's event time + delay, then EVICT — state is
    bounded by (arrival rate x delay), never by stream history, which is
    what keeps an unbounded 100 TB/day stream's dedup memory finite.

    The trade, by contract: a duplicate arriving LATER than the delay
    re-emits (its state is gone). That makes this the transport-hiccup
    absorber — redeliveries cluster within seconds-to-minutes of the
    original — not a corpus-history dedup; for the latter (exact-once
    against ALL history) use streaming/dedup_index.py, whose state lives
    in a persistent bucketed store instead of executor memory.

    Note the contrast with plain ``dropDuplicates`` on a stream: that
    keeps EVERY key's state forever (unbounded), and with an event-time
    watermark it additionally drops too-late rows entirely; this variant
    neither grows without bound nor loses late originals.
    """
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        id_cols
    )
