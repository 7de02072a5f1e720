"""Continuous crawl ingest — WARC shards in, deduped documents out.

The composition the whole round builds toward, wired end-to-end as ONE
micro-batch loop (the reference's incremental-indexer shape,
indexer_app/handler.py:33-60 — pull new containers, normalize, upsert —
applied to web crawl data):

per trigger, for the batch of newly-arrived WARC shards:
  1. ``warc.crawl_to_documents`` — record explode → 200-OK HTML →
     html_to_text → scored ``documents`` rows (one Python stage, rest
     codegen);
  2. land the documents in the ``batch_id``-partitioned docs log
     (``index_gate.write_log``: each batch overwrites only its own
     partition, so a replayed batch rewrites exactly its own rows — the
     bronze→silver landing the batch operators read);
  3. run the documents through the persistent minhash band index
     (``dedup_index.spec`` under ``index_gate.run_batch``): probe for
     near-dup collisions against everything ingested BEFORE this batch
     (colliding buckets only — cost ∝ batch, not corpus), write the
     found pairs to the pairs log the same way, and merge the batch's
     band rows into the index (touched buckets only, idempotent per
     batch_id).

The stream, the logs and the replay contract are
streaming/index_gate.py's, the index is streaming/dedup_index.py's; the
only new code is the glue, which is the point — every stage is an
already-tested operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import silver
from ..sources import warc as warc_src
from . import dedup_index, index_gate


def stream_crawl_ingest(
    spark: SparkSession,
    warc_stream: DataFrame,
    docs_dir: str,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    num_hashes: int = 8,
    bands: int = 4,
    n_buckets: int = silver.DEFAULT_N_BUCKETS,
):
    """Start the crawl-ingest stream over a WARC shard source
    (``warc_id``, ``payload`` schema). Documents land in ``docs_dir``,
    near-dup pairs in ``pairs_dir`` (both ``batch_id``-partitioned
    logs), and the band index advances under ``index_dir``."""
    spec = dedup_index.spec("text", "doc_id", num_hashes, bands)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        docs = warc_src.crawl_to_documents(batch_df).persist()
        try:
            index_gate.write_log(docs, docs_dir, batch_id)
            index_gate.run_batch(spark, spec, index_dir, docs, batch_id, n_buckets, pairs_dir)
        finally:
            docs.unpersist()

    return index_gate.start(warc_stream, process, checkpoint_dir, available_now)


def frontier_update(
    gold: DataFrame | None, batch_df: DataFrame, url_col: str = "url"
) -> DataFrame:
    """One frontier tick: canonicalize the micro-batch's discovered
    URLs (``functions.urls.canonicalize_url`` — the dedup/frontier key
    rule) and fold them into the visited-set state with the mergeable-
    partials monoid (``operators.incremental.apply_batch``): per
    canonical URL, ``n_seen`` (count-merge over every raw spelling
    that hit it) and ``first_url`` (min-merge — a deterministic
    canonical attribution). Both measures are commutative monoids, so
    the final state is BATCH-SPLIT INVARIANT (fold of any partition ==
    one global groupBy) and idempotent under Structured Streaming's
    batch-id replay contract when the caller versions state writes by
    batch_id (the s_stream_exact_dedup shape).

    This closes the in-engine crawl loop: fetch (crawl_to_documents) →
    parse (rules_from_robots / sitemap_entries) → dedup (this) →
    schedule next (plan_fetch_schedule over the unseen keys). Scale
    shape: one shuffle on the canonical key per batch; state grows by
    distinct NEW keys only; nothing collected."""
    from ..functions.urls import canonicalize_url
    from ..operators import incremental

    keyed = batch_df.select(
        canonicalize_url(F.col(url_col)).alias("url_canon"),
        F.col(url_col).alias("__raw"),
    )
    measures = {"n_seen": ("count", None), "first_url": ("min", "__raw")}
    return incremental.apply_batch(gold, keyed, ["url_canon"], measures)


def polite_frontier_tick(
    gold: DataFrame | None,
    batch_df: DataFrame,
    robots: DataFrame,
    user_agent: str = "*",
    url_col: str = "url",
    default_delay_s: float = 1.0,
    latest_col: str | None = None,
    rules: DataFrame | None = None,
    delays: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One POLITE frontier tick — the composition ``frontier_update``
    runs beside (round-11 verdict #2), now in ONE plan per batch:

    1. fold the batch's discovered URLs into the visited-set state
       (``frontier_update`` — canonicalize + count/min monoid merge);
    2. keep only the canonical keys UNSEEN before this batch (anti-join
       against the prior state — a key is scheduled exactly once, in
       the batch that first discovers it);
    3. parse the robots corpus relationally (``rules_from_robots`` /
       ``delays_from_robots`` — ``robots`` is (host, robots_body),
       optionally refetch-deduped via ``latest_col``) and keep only
       URLs the selected UA group ALLOWS (``apply_robots`` longest-
       match verdicts);
    4. assign politeness slots on each host's crawl-delay clock
       (``plan_fetch_schedule``; slots are dense per host WITHIN the
       tick — a real loop offsets them by the tick's wall-clock).

    Returns ``(new_state, schedule)``. Idempotent under Structured
    Streaming's batch-id replay when the caller versions BOTH writes
    by batch_id (the ``s_stream_exact_dedup`` contract): every stage
    is a pure function of (prior state, batch, robots corpus). Scale
    shape per batch: one canonical-key shuffle (the state fold), one
    anti-join on the same key, the robots parse's one host shuffle
    (corpus-sized, not frontier-sized), and the schedule's per-host
    window — no UDF, nothing collected, state grows by distinct new
    keys only.

    ``rules`` / ``delays``: the robots corpus is LOOP-INVARIANT across
    a stream's ticks, but each tick's lazy plan would re-run the whole
    4-exchange parse. A caller driving many ticks should hoist it:
    parse once (``rules_from_robots`` / ``delays_from_robots``),
    materialize (``iterative.cut_lineage``), and pass the frames in —
    the per-tick plan then starts from the KB-sized parsed rules
    (same loop-invariant-hoisting rule as graph.pagerank's persisted
    edges). When None, parse here (single-tick callers). CONTRACT
    (round-12 ADVICE): hoisted frames must be built with the SAME
    ``user_agent`` and the same ``latest_col`` refetch-dedup this tick
    would apply — ``user_agent``/``latest_col`` are IGNORED for a side
    that is passed pre-parsed, so a caller that hoists the parse but
    skips the latest_col dedup gets silently different robots
    semantics. Enforced below: passing ``latest_col`` alongside a
    pre-parsed frame raises, also when only one side is pre-parsed."""
    from ..functions.urls import (
        apply_robots,
        delays_from_robots,
        plan_fetch_schedule,
        rules_from_robots,
    )

    if latest_col is not None and (rules is not None or delays is not None):
        raise ValueError(
            "latest_col is ignored for pre-parsed rules/delays frames, "
            "including the mixed case where one side is pre-parsed and the "
            "other is parsed in this call — pre-parse both sides with the "
            "refetch-dedup (rules_from_robots/delays_from_robots("
            "latest_col=...)) and pass latest_col=None here"
        )
    new_state = frontier_update(gold, batch_df, url_col)
    unseen = (
        new_state
        if gold is None
        else new_state.join(gold.select("url_canon"), "url_canon", "left_anti")
    )
    if rules is None:
        rules = rules_from_robots(robots, user_agent, latest_col=latest_col)
    allowed = (
        apply_robots(unseen, rules, url_col="url_canon")
        .filter(F.col("allowed"))
        .drop("allowed")
    )
    if delays is None:
        delays = delays_from_robots(robots, user_agent, latest_col=latest_col)
    schedule = plan_fetch_schedule(
        allowed, delays, url_col="url_canon", default_delay_s=default_delay_s
    )
    return new_state, schedule
