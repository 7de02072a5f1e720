"""Ingest pipeline assembly — batch core + Structured Streaming wrapper
(SURVEY.md §2.9 T1-T8, §7 phase 6).

``ENTITY_PIPELINES`` (entity -> normalizer, natural key, conflict
policy) is the single definition of what the reference's three
execution modes write:

  - live stream  (runindexer → asyncio loop, tasks.py:28-93)
  - spot replay  (runspotindexer over a height range, tasks.py:114-126)
  - backfill     (populatedata.py contract scans)

One path serves all three: ``stream_ingest`` is a file-source stream
over the lake (``available_now=True`` drains a fixed range, the
replay/backfill shape) whose ``foreachBatch`` hands each micro-batch to
``ingest_batch``, which merges every entity into its bucketed silver
table with ``sources.silver.merge_batch``.

Delivery is at-least-once (checkpointLocation tracks progress, T2 —
replacing the reference's BlockHeight singleton, utils.py:1194-1203);
the sink makes the VISIBLE state effectively-once per table: merges are
keyed + versioned (T3) so replays collapse, and sources.silver publishes
each TABLE with an atomic manifest swap, so a crashed batch leaves each
table either fully updated or untouched. Atomicity is per table, not per
batch: the entity merges run concurrently and each table publishes when
its own merge finishes, in no fixed order, so a reader during a batch,
or after a crash mid-batch until the replay, can see batch N in some
tables and N-1 in others. At-least-once replay overlap (the reference
resumes at height-1, tasks.py:104-107) is harmless by construction.

Scale notes: each entity merge shuffles on its natural key only; the
bronze explode is narrow and runs once per trigger (the prepared frame
is persisted and materialized before any merge); the entity merges run
concurrently on a pool as wide as the cluster's default parallelism, so
one merge's small jobs fill the cores another merge leaves idle (FAIR
scheduling, session.get_spark).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..sources import normalize, silver
from ..sources.lake import explode_receipts, read_lake_stream


def _accounts(prepared: DataFrame) -> DataFrame:
    # accounts are id-only get_or_create upserts — every writer is
    # identical, so version is constant (utils.py:890-922); deployment
    # cascades (pot/factory/registry owners, admins, deployers) union in
    return (
        normalize.donation_accounts(normalize.donations(prepared))
        .unionByName(normalize.deployment_accounts(prepared))
        .distinct()
        .withColumn("version", F.lit(0).cast("long"))
    )


# entity -> date-partition spec: silver tables whose reference composite
# index leads with a timestamp (SURVEY §4; donations/models.py:36-118
# donated_at indexes) get a hive date partition inside every bucket
# version, so donated-at range scans prune files (PartitionFilters —
# tests/test_storage.py guards). The derived date column is added at merge
# time; it rides along as a data column for readers.
ENTITY_PARTITIONS: dict[str, tuple[str, Callable[[], Column]]] = {
    "donations": ("donated_date", lambda: F.to_date("donated_at")),
}

# entity -> (normalizer over prepared bronze, natural key, conflict policy)
ENTITY_PIPELINES: dict[str, tuple[Callable[[DataFrame], DataFrame], list[str], str]] = {
    # last-writer-wins: update_or_create (utils.py:978-982) on the F11 key
    "donations": (normalize.donations, ["dedup_key"], "last"),
    # first-writer-wins: bulk_create(ignore_conflicts) (utils.py:427-431)
    "list_registrations": (normalize.list_registrations, ["list_id", "registrant_id"], "first"),
    # last-writer-wins: update_or_create (utils.py:515-522)
    "pot_applications": (normalize.pot_applications, ["pot_id", "applicant_id"], "last"),
    # get_or_create: first wins (utils.py:649-655)
    "list_upvotes": (normalize.list_upvotes, ["list_id", "account_id"], "first"),
    # acreate / unique on_chain_id (lists/models.py:21-26): first wins
    "lists": (normalize.new_lists, ["id"], "first"),
    "accounts": (_accounts, ["id"], "first"),
    # Activity audit rows — reference key is the quirky (action_result,
    # type) unique (activities/models.py:69-72); same dedup effect here.
    # Full ActivityType surface: the three Donate_* types plus the six
    # non-donation handler sites (normalize.non_donation_activities)
    "activities": (
        lambda p: normalize.donation_activities(normalize.donations(p)).unionByName(
            normalize.non_donation_activities(p)
        ),
        ["action_result", "type"],
        "last",
    ),
    # set_payouts appends + transfer fulfills (utils.py:667-733): pinned
    # to (pot, recipient) last-wins so fulfillments supersede pendings
    "pot_payouts": (normalize.pot_payouts, ["pot_id", "recipient_id"], "last"),
    # update_or_create (challenger, pot) (utils.py:755-757)
    "payout_challenges": (normalize.payout_challenges, ["challenger_id", "pot_id"], "last"),
    # update_or_create (challenger, pot, created_at) (utils.py:775-780)
    "challenge_responses": (
        normalize.challenge_responses,
        ["challenger_id", "pot_id", "created_at"],
        "last",
    ),
    # update_or_create (application, reviewer, reviewed_at) (utils.py:577-584)
    "application_reviews": (
        normalize.application_reviews,
        ["pot_id", "applicant_id", "reviewer_id", "reviewed_ms"],
        "last",
    ),
    # in-place registration update (utils.py:467-469) → event-sourced latest
    "registration_updates": (normalize.registration_updates, ["registration_id"], "last"),
    # profile set (utils.py:36-52): latest profile JSON per account
    "social_profiles": (normalize.social_profile_updates, ["account_id"], "last"),
    # deployments ('new' routes, handler.py:204-227): pot creation skips
    # existing pots (utils.py:138-143) → first; factory/registry use
    # aupdate_or_create → last
    "pots": (normalize.new_pots, ["id"], "first"),
    "pot_factories": (normalize.new_pot_factories, ["id"], "last"),
    "nadabot_registries": (normalize.new_nadabot_registries, ["id"], "last"),
    # EVENT_JSON routes (handler.py:111-118)
    "nadabot_providers": (
        lambda p: normalize.nadabot_providers(normalize.event_json_logs(p)),
        ["on_chain_id", "registry_id"],
        "last",
    ),
    "nadabot_stamps": (
        lambda p: normalize.nadabot_stamps(normalize.event_json_logs(p)),
        ["user_id", "provider_id", "verified_at"],
        "first",
    ),
    # acreate → first (utils.py:1174-1181)
    "nadabot_groups": (
        lambda p: normalize.nadabot_groups(normalize.event_json_logs(p)),
        ["id"],
        "first",
    ),
    "human_threshold_updates": (
        lambda p: normalize.human_threshold_updates(normalize.event_json_logs(p)),
        ["registry_id"],
        "last",
    ),
    # event-sourced membership: keep EVERY action (key includes version);
    # domain.current_blacklist derives the live set
    "blacklist_actions": (
        lambda p: normalize.blacklist_actions(normalize.event_json_logs(p)),
        ["registry_id", "account_id", "version"],
        "last",
    ),
    "pot_config_events": (
        lambda p: normalize.pot_config_events(normalize.event_json_logs(p)),
        ["pot_id"],
        "last",
    ),
    # list field updates (utils.py:598-629): latest per list
    "list_updates": (normalize.list_updates, ["list_id"], "last"),
    # role-membership event stream (append-all; gold derives membership)
    "admin_ops": (
        normalize.admin_ops,
        ["entity_type", "entity_id", "role", "account_id", "version"],
        "last",
    ),
    # factory config-refresh markers (append-all; S4 enrichment input)
    "factory_config_events": (
        normalize.factory_config_events,
        ["factory_id", "version"],
        "last",
    ),
    # Token entity (tokens/models.py:16-62, utils.py:917-943): bronze
    # emits version-0 skeletons (decimals=24) for an RPC metadata fetch;
    # streaming.enrich does not fill them today (normalize.tokens says why)
    "tokens": (
        lambda p: normalize.tokens(normalize.donations(p)),
        ["id"],
        "last",
    ),
    # TokenHistoricalPrice (tokens/models.py:131-152): NULL-price request
    # skeletons per (token, Coingecko date); nothing fills them today
    # (normalize.tokens says why)
    "token_prices": (
        lambda p: normalize.token_price_requests(normalize.donations(p)),
        ["token_id", "date_key"],
        "last",
    ),
    # Chain dimension (chains/models.py:5-48): constant default-NEAR row
    "chains": (normalize.chains, ["name"], "first"),
}


def ingest_batch(
    spark: SparkSession,
    prepared: DataFrame,
    out_dir: str,
    batch_id: int,
    n_buckets: int = silver.DEFAULT_N_BUCKETS,
) -> None:
    """Merge every entity of one persisted prepared bronze frame into its
    silver table under ``out_dir``, the entities concurrently.

    A trigger is bound by Spark job latency, not compute: each merge is a
    chain of small jobs, so merges run side by side on a pool of
    ``min(len(ENTITY_PIPELINES), defaultParallelism)`` threads and FAIR
    scheduling interleaves their jobs. Each task builds its own entity
    plan, so the first merge starts as soon as the frame is cached.
    Worker threads inherit the caller's local properties
    (``inheritable_thread_target``): a streaming query's scheduler pool
    and its cancellation job group reach every merge job.

    Every task is joined before returning, so the caller may unpersist
    ``prepared`` afterwards; the first failure (in entity order) is then
    re-raised and the whole batch fails, to be replayed. Tables publish
    in no fixed order and atomicity stays per table.
    """

    def merge(name: str, fn: Callable[[DataFrame], DataFrame], key: list[str], keep: str) -> None:
        entity = fn(prepared)
        part = ENTITY_PARTITIONS.get(name)
        if part is not None:
            entity = entity.withColumn(part[0], part[1]())
        silver.merge_batch(
            spark,
            f"{out_dir}/{name}",
            entity,
            key,
            "version",
            keep=keep,
            batch_id=batch_id,
            n_buckets=n_buckets,
            partition_col=None if part is None else part[0],
        )

    prepared.count()  # fill the cache once, not in each racing merge
    width = min(len(ENTITY_PIPELINES), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(width) as pool:
        # wrapped per task: the local properties are captured here, on
        # the caller's thread, into a copy that task alone owns
        futures = [
            pool.submit(inheritable_thread_target(spark)(merge), name, *spec)
            for name, spec in ENTITY_PIPELINES.items()
        ]
    for fut in futures:
        fut.result()


def stream_ingest(
    spark: SparkSession,
    lake_path: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 300,
    max_files_per_trigger: int = 32,
    available_now: bool = False,
    n_buckets: int = silver.DEFAULT_N_BUCKETS,
    pool: str | None = None,
):
    """T1/T2/T6: continuous ingest. Each micro-batch explodes the lake
    messages to bronze and merges each entity into its bucketed silver
    table, rewriting ONLY the hash-buckets the batch's keys land in
    (sources.silver: versioned bucket dirs + atomic manifest swap). Work
    per trigger is O(batch + touched buckets), not O(total history), and
    a crash can never truncate a table — the previous manifest stays
    live until the new one is published atomically. 300 s default
    trigger mirrors the reference's 5-minute beat cadence
    (base/celery.py:27-43).

    Entities with no rows in a batch are skipped entirely (no read, no
    write). At-least-once replay of a batch is safe: merges are keyed +
    versioned (T3) and silver.merge_batch republishes the same state.

    ``pool`` (T7): run this query's jobs in a named FAIR-scheduler pool so
    concurrent streams (e.g. live ingest vs. backfill replay) can't starve
    each other — the Spark analogue of the reference's per-queue Celery
    workers (base/celery.py beat queues). Requires
    spark.scheduler.mode=FAIR (session.get_spark sets it); the property is
    thread-local, inherited by the streaming query's own thread and from
    there by ``ingest_batch``'s merge threads.

    (On a Delta/Iceberg lakehouse this becomes MERGE INTO — see
    sources.merge.merge_statement; plain parquet + manifest keeps this
    container dependency-free with the same commit protocol.)
    """

    def process_batch(lake_batch: DataFrame, batch_id: int) -> None:
        # every entity plan reads one prepared bronze frame: cache it so
        # the JSON decode/explode runs once per trigger, not once per entity
        prepared = normalize.prepare(explode_receipts(lake_batch)).persist()
        try:
            ingest_batch(spark, prepared, out_dir, batch_id, n_buckets)
        finally:
            prepared.unpersist()

    stream = read_lake_stream(spark, lake_path, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        # drain everything currently in the lake then stop — replay/backfill
        # mode and the test path (same semantics as tasks.py:114-126's
        # spot indexer over a fixed height range)
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    sc = spark.sparkContext
    prev_pool = sc.getLocalProperty("spark.scheduler.pool")
    if pool is not None:
        sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        return writer.start()
    finally:
        if pool is not None:
            sc.setLocalProperty("spark.scheduler.pool", prev_pool)
