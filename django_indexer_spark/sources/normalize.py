"""Bronze → silver entity normalizers (SURVEY.md §2.9 T4/T8, §7 phase 4).

The reference routes each receipt imperatively (match method_name, 20+
cases, handler.py:197-443; EVENT_JSON dispatch handler.py:95-139) and
upserts entities row by row inside async handlers (utils.py). Here every
route is a FILTER over one shared bronze DataFrame and every handler is a
pure column transform producing an entity-shaped frame — the whole batch
becomes a deterministic dataflow:

    bronze ─┬─ donations ──────────┬─ accounts (union of all roles, T8)
            ├─ list_registrations ─┤
            ├─ pot_applications ───┤
            ├─ list_upvotes ───────┤
            ├─ new_lists ──────────┘
            └─ event_json logs → nadabot providers/stamps/...

Replay safety (T3): each normalizer emits its natural key plus a total
``version`` (block_height, receipt_ordinal); sources.merge.upsert collapses
duplicates. Two distinct conflict semantics exist in the reference and are
preserved:
  - update_or_create      → LAST writer wins (donations utils.py:978-982,
                            applications utils.py:515-522)
  - bulk_create(ignore_conflicts=True) → FIRST writer wins
                            (registrations utils.py:427-431)

One code path serves stream AND backfill (S6): populatedata.py's paginated
contract scans produce the same entity dicts; feeding them through these
transforms (as JSON rows) yields identical tables — the §2.7 union.

No UDFs: base64, JSON, timestamp and decimal work are all built-in
expressions (C1-C17 in functions/scalars.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import b64_json, ms_to_timestamp, ns_to_timestamp
from ..operators.filters import NADABOT_RE, POT_FACTORY_RE, POT_RE

# contract addresses (reference: handler.py:160-161, donations/api.py:22)
POTLOCK_TLA = "potlock.near"
DONATE_CONTRACT = f"donate.{POTLOCK_TLA}"
LISTS_CONTRACT = f"lists.{POTLOCK_TLA}"
SOCIAL_CONTRACT = "social.near"

DONATE_METHODS = (
    "donate",
    "handle_protocol_fee_callback",
    "sybil_callback",
    "transfer_funds_callback",
)  # handler.py:279-284

# explicit payload schemas — schema-on-read islands (§1.2), never inferred
DONATION_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("donor_id", T.StringType()),
        T.StructField("total_amount", T.StringType()),
        T.StructField("net_amount", T.StringType()),
        T.StructField("ft_id", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("donated_at", T.LongType()),
        T.StructField("donated_at_ms", T.LongType()),
        T.StructField("matching_pool", T.BooleanType()),
        T.StructField("recipient_id", T.StringType()),
        T.StructField("project_id", T.StringType()),
        T.StructField("protocol_fee", T.StringType()),
        T.StructField("referrer_id", T.StringType()),
        T.StructField("referrer_fee", T.StringType()),
        T.StructField("chef_id", T.StringType()),
        T.StructField("chef_fee", T.StringType()),
    ]
)

REGISTRATION_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("registrant_id", T.StringType()),
            T.StructField("list_id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("submitted_ms", T.LongType()),
            T.StructField("updated_ms", T.LongType()),
            T.StructField("registered_by", T.StringType()),
            T.StructField("admin_notes", T.StringType()),
            T.StructField("registrant_notes", T.StringType()),
        ]
    )
)

APPLICATION_SCHEMA = T.StructType(
    [
        T.StructField("project_id", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("submitted_at", T.LongType()),
    ]
)

LIST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("owner", T.StringType()),
        T.StructField("admins", T.ArrayType(T.StringType())),
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("cover_image_url", T.StringType()),
        T.StructField("admin_only_registrations", T.BooleanType()),
        T.StructField("default_registration_status", T.StringType()),
        T.StructField("created_at", T.LongType()),
        T.StructField("updated_at", T.LongType()),
    ]
)

EVENT_JSON_SCHEMA = T.StructType(
    [
        T.StructField("standard", T.StringType()),
        T.StructField("version", T.StringType()),
        T.StructField("event", T.StringType()),
        T.StructField("data", T.ArrayType(T.StringType())),
    ]
)


def prepare(bronze: DataFrame) -> DataFrame:
    """Shared prep over the flat bronze stream (BLOCK_STREAM_SCHEMA):
    success filter (F8, handler.py:75-82), base64+JSON decode of args and
    SuccessValue (C1/C2, handler.py:172-196, 294-302), block timestamp
    (C3), and the per-key total version order (block_height, ordinal)."""
    decoded_success = b64_json("success_value_b64")
    return (
        bronze.filter(F.col("status_kind").isin("SuccessReceiptId", "SuccessValue"))
        .withColumn("args_json", F.coalesce(b64_json("args_b64"), F.lit("{}")))
        .withColumn(
            "success_json",
            F.when(decoded_success != F.lit("null"), decoded_success),  # C13
        )
        .withColumn("block_time", ns_to_timestamp("block_timestamp_ns"))
        .withColumn(
            # version = height << 32 | ordinal: a receipt's version is
            # strictly below every version in the next block as long as
            # the packed ordinal stays under 2^32 (shard_id < 4096 with
            # lake.explode_receipts' shard<<20|pos packing) — the total
            # order per key that last-writer-wins merge (S3) depends on.
            # Heights fit 31 bits for centuries, so no signed overflow.
            "version",
            F.shiftleft(F.col("block_height").cast("long"), 32)
            + F.col("receipt_ordinal"),
        )
    )


def donations(prepared: DataFrame) -> DataFrame:
    """handle_new_donation (utils.py:863-1016) as one transform.

    Route: method in DONATE_METHODS with a non-null, non-"null" result
    (handler.py:279-317). Type: direct iff receiver == donate contract
    (handler.py:285-287). The payload is the decoded SuccessValue
    (DonationExternal). Semantics preserved:
      - net_amount used when present and != "0", else
        total - protocol - coalesce(referrer,0) - coalesce(chef,0)
        (utils.py:874-884, C8);
      - donated_at = coalesce(donated_at, donated_at_ms) ms → timestamp
        (utils.py:886-888, C4/C17);
      - recipient = coalesce(recipient_id, project_id) — direct vs pot
        payloads (utils.py:898-907);
      - token = coalesce(ft_id, 'near') (utils.py:917);
      - pot donations carry pot_id = receiver (utils.py:974);
      - natural key (on_chain_id, pot|'__direct__') (F11,
        donations/models.py:188-200); tx_hash = receipt_id (utils.py:968).
    """
    from ..functions.amounts import guarded_amount

    d = F.col("donation")
    net_raw = d["net_amount"]
    # digit-guarded casts: ANSI mode aborts on malformed amounts; the
    # reference's int() raises into a broad except (row skipped) — a NULL
    # net_amount here is the declarative equivalent
    computed_net = (
        guarded_amount(d["total_amount"])
        - guarded_amount(d["protocol_fee"])
        - F.coalesce(guarded_amount(d["referrer_fee"]), F.lit(0).cast("decimal(38,0)"))
        - F.coalesce(guarded_amount(d["chef_fee"]), F.lit(0).cast("decimal(38,0)"))
    ).cast("string")
    is_pot = F.col("receiver_id") != DONATE_CONTRACT
    return (
        prepared.filter(F.col("method_name").isin(*DONATE_METHODS))
        .filter(F.col("success_json").isNotNull())
        .withColumn("donation", F.from_json("success_json", DONATION_SCHEMA))
        .filter(d["id"].isNotNull())
        .select(
            d["id"].alias("on_chain_id"),
            d["donor_id"].alias("donor_id"),
            d["total_amount"].alias("total_amount"),
            F.when((net_raw.isNotNull()) & (net_raw != "0"), net_raw)
            .otherwise(computed_net)
            .alias("net_amount"),
            F.lit(None).cast("decimal(20,2)").alias("total_amount_usd"),
            F.lit(None).cast("decimal(20,2)").alias("net_amount_usd"),
            F.coalesce(d["ft_id"], F.lit("near")).alias("token_id"),
            F.when(is_pot, F.col("receiver_id")).alias("pot_id"),
            F.coalesce(d["matching_pool"], F.lit(False)).alias("matching_pool"),
            d["message"].alias("message"),
            ms_to_timestamp(F.coalesce(d["donated_at"], d["donated_at_ms"])).alias("donated_at"),
            F.coalesce(d["recipient_id"], d["project_id"]).alias("recipient_id"),
            d["protocol_fee"].alias("protocol_fee"),
            F.lit(None).cast("decimal(20,2)").alias("protocol_fee_usd"),
            d["referrer_id"].alias("referrer_id"),
            d["referrer_fee"].alias("referrer_fee"),
            F.lit(None).cast("decimal(20,2)").alias("referrer_fee_usd"),
            d["chef_id"].alias("chef_id"),
            d["chef_fee"].alias("chef_fee"),
            F.lit(None).cast("decimal(20,2)").alias("chef_fee_usd"),
            F.col("receipt_id").alias("tx_hash"),
            F.col("signer_id"),
            F.col("receiver_id"),
            F.col("version"),
        )
        .withColumn(
            "dedup_key",
            F.concat_ws(
                "|", F.col("on_chain_id").cast("string"), F.coalesce("pot_id", F.lit("__direct__"))
            ),
        )
    )


def donation_accounts(donation_rows: DataFrame) -> DataFrame:
    """T8 cascade: every donation upserts ≤6 accounts + the token account
    (utils.py:890-922). Emitted as one distinct id frame for the accounts
    merge — the loop becomes a union."""
    ids = [
        "donor_id",
        "recipient_id",
        "referrer_id",
        "chef_id",
        "token_id",
        "receiver_id",
        "signer_id",
    ]
    stacked = donation_rows.select(
        F.explode(F.array(*[F.col(c) for c in ids])).alias("id")
    )
    return stacked.filter(F.col("id").isNotNull()).distinct()


def donation_activities(donation_rows: DataFrame) -> DataFrame:
    """Activity rows for donations (utils.py:991-1016): type depends on
    direct vs pot vs matching-pool."""
    activity_type = (
        F.when(F.col("pot_id").isNull(), "Donate_Direct")
        .when(F.col("matching_pool"), "Donate_Pot_Matching_Pool")
        .otherwise("Donate_Pot_Public")
    )
    return donation_rows.select(
        F.col("signer_id"),
        F.col("receiver_id"),
        F.col("donated_at").alias("timestamp"),
        F.to_json(
            F.struct(
                F.col("on_chain_id").alias("id"),
                F.col("donor_id"),
                F.col("total_amount"),
            )
        ).alias("action_result"),
        F.col("tx_hash"),
        activity_type.alias("type"),
        F.col("version"),
    )


def tokens(donation_rows: DataFrame) -> DataFrame:
    """Token entity skeleton from the donation stream (utils.py:917-943):
    every donation's ft token (or 'near') is get_or_create'd with
    decimals=24 and metadata left for the RPC fetch, at version 0 and
    identical every replay. The fetch is out-of-engine (SURVEY §2.1).

    Nothing fills these skeletons (or ``token_price_requests``') today:
    ``streaming.enrich.refresh_dimension`` cannot, for three reasons.
    Its left-anti join against the table counts every skeleton key as
    already present, so it fetches nothing for them. It stamps
    ``version = batch_id``, not the fetch time in ns. Its
    ``PRICE_DIM_SCHEMA`` is not the ``token_prices`` schema."""
    return (
        donation_rows.select(F.coalesce(F.col("token_id"), F.lit("near")).alias("id"))
        .distinct()
        .select(
            "id",
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("string").alias("symbol"),
            F.lit(None).cast("string").alias("icon"),
            F.lit(24).cast("int").alias("decimals"),  # utils.py:919 default
            F.lit(None).cast("string").alias("coingecko_id"),
            F.lit(0).cast("long").alias("version"),
        )
    )


def token_price_requests(donation_rows: DataFrame) -> DataFrame:
    """TokenHistoricalPrice request skeletons (tokens/models.py:64-104):
    the reference prices each donation by looking up a (token, ±24 h)
    window and creating the row on miss via Coingecko's per-DATE history
    endpoint (format_date, base/utils.py:4-8) — so (token_id, date_key)
    is the natural key. Bronze emits the key with a NULL price at
    version 0, for a price fetch that nothing runs against this table
    today (see ``tokens``)."""
    return (
        donation_rows.select(
            F.coalesce(F.col("token_id"), F.lit("near")).alias("token_id"),
            F.date_format("donated_at", "dd-MM-yyyy").alias("date_key"),
        )
        .distinct()
        .select(
            "token_id",
            "date_key",
            F.lit(None).cast("double").alias("price_usd"),
            F.lit(0).cast("long").alias("version"),
        )
    )


def chains(prepared: DataFrame) -> DataFrame:
    """Chain dimension (chains/models.py:5-48): the reference FKs
    donations/pots to a Chain but the NEAR indexer only ever writes the
    default NEAR row — materialized here so the FK target exists as a
    first-class silver table. One constant row per non-empty batch;
    evm_chain_id NULL because evm_compat is false (the model's
    evm_chain_id_check constraint)."""
    return prepared.limit(1).select(
        F.lit("NEAR").alias("name"),
        F.lit("near").alias("name_slug"),
        F.lit("https://rpc.mainnet.near.org").alias("rpc_url"),
        F.lit("https://nearblocks.io").alias("explorer_url"),
        F.lit(False).alias("evm_compat"),
        F.lit(None).cast("int").alias("evm_chain_id"),
        F.lit(0).cast("long").alias("version"),
    )


def non_donation_activities(prepared: DataFrame) -> DataFrame:
    """Activity rows from the six non-donation handler sites — the rest of
    the reference's ActivityType surface (activities/models.py:7-19).
    Each emitter mirrors its handler's routing filter and writes the same
    (signer, receiver, timestamp, action_result, tx_hash, type) row its
    ``Activity.objects.aupdate_or_create`` call does:

    - Deploy_Pot (utils.py:205-214): 'new' on a pot subaccount;
      action_result = the deploy args payload.
    - Register_Batch (utils.py:434-446): register_batch on the lists
      contract; action_result = the decoded SuccessValue array;
      timestamp = the FIRST registration's submitted_at (the reference's
      insert_data[0]['submitted_at'] quirk, utils.py:438).
    - Submit_Application (utils.py:524-533): apply on a pot;
      action_result = the application SuccessValue.
    - Upvote (utils.py:650-658): upvote on the lists contract — a type
      the reference writes but never declared in ActivityType (quirk kept).
    - Challenge_Payout (utils.py:746-759): challenge_payouts on a pot.
    - Remove_List_Admin (utils.py:795-806): owner_remove_admins on the
      lists contract — the reference keys this aupdate_or_create on TYPE
      ALONE (no action_result), so at most one row ever exists; a NULL
      action_result under the (action_result, type) merge key reproduces
      exactly that collapse.

    Timestamps: handlers stamp either the receipt's block time or
    ``datetime.now()`` at index time; block_time is the deterministic,
    replayable stand-in for the latter (same policy as list_upvotes).
    """
    no_result = F.lit(None).cast("string")

    def row(df: DataFrame, action_result: F.Column, ts: F.Column, typ: str) -> DataFrame:
        return df.select(
            F.col("signer_id"),
            F.col("receiver_id"),
            ts.alias("timestamp"),
            action_result.alias("action_result"),
            F.col("receipt_id").alias("tx_hash"),
            F.lit(typ).alias("type"),
            F.col("version"),
        )

    on_pot = F.col("receiver_id").rlike(POT_RE)
    on_lists = F.col("receiver_id") == LISTS_CONTRACT
    deploy = row(
        prepared.filter((F.col("method_name") == "new") & on_pot),
        F.col("args_json"),
        F.col("block_time"),
        "Deploy_Pot",
    )
    reg_batch = row(
        prepared.filter(
            (F.col("method_name") == "register_batch")
            & on_lists
            & F.col("success_json").isNotNull()
        ),
        F.col("success_json"),
        ms_to_timestamp(
            F.element_at(F.from_json("success_json", REGISTRATION_SCHEMA), 1)["submitted_ms"]
        ),
        "Register_Batch",
    )
    submit_app = row(
        prepared.filter(
            F.col("method_name").isin("apply", "assert_can_apply_callback")
            & on_pot
            & F.col("success_json").isNotNull()
            & F.get_json_object("success_json", "$.project_id").isNotNull()
        ),
        F.col("success_json"),
        F.col("block_time"),
        "Submit_Application",
    )
    upvote = row(
        prepared.filter((F.col("method_name") == "upvote") & on_lists),
        F.col("args_json"),
        F.col("block_time"),
        "Upvote",
    )
    challenge = row(
        prepared.filter((F.col("method_name") == "challenge_payouts") & on_pot),
        F.col("args_json"),
        F.col("block_time"),
        "Challenge_Payout",
    )
    rm_admin = row(
        prepared.filter((F.col("method_name") == "owner_remove_admins") & on_lists),
        no_result,
        F.col("block_time"),
        "Remove_List_Admin",
    )
    return (
        deploy.unionByName(reg_batch)
        .unionByName(submit_app)
        .unionByName(upvote)
        .unionByName(challenge)
        .unionByName(rm_admin)
    )


def list_registrations(prepared: DataFrame) -> DataFrame:
    """handle_new_list_registration (utils.py:377-446): register_batch on
    the lists contract; payload = decoded SuccessValue ARRAY of
    registrations → explode. First-writer-wins on (list_id, registrant_id)
    (ignore_conflicts, utils.py:427-431; unique lists/models.py:184-187)."""
    return (
        prepared.filter(
            (F.col("method_name") == "register_batch")
            & (F.col("receiver_id") == LISTS_CONTRACT)
            & F.col("success_json").isNotNull()
        )
        .withColumn("reg", F.explode(F.from_json("success_json", REGISTRATION_SCHEMA)))
        .select(
            F.col("reg.id").alias("id"),
            F.col("reg.list_id").alias("list_id"),
            F.col("reg.registrant_id").alias("registrant_id"),
            F.col("reg.registered_by").alias("registered_by_id"),
            F.col("reg.status").alias("status"),
            ms_to_timestamp(F.col("reg.submitted_ms")).alias("submitted_at"),
            ms_to_timestamp(F.col("reg.updated_ms")).alias("updated_at"),
            F.col("reg.registrant_notes").alias("registrant_notes"),
            F.col("reg.admin_notes").alias("admin_notes"),
            F.col("receipt_id").alias("tx_hash"),
            F.col("signer_id"),
            F.col("version"),
        )
    )


def pot_applications(prepared: DataFrame) -> DataFrame:
    """handle_pot_application (utils.py:474-546): apply /
    assert_can_apply_callback on a pot account; payload = SuccessValue;
    natural key (pot_id, applicant_id) (pots/models.py:452-455),
    last-writer-wins (update_or_create utils.py:515-522)."""
    return (
        prepared.filter(
            F.col("method_name").isin("apply", "assert_can_apply_callback")
            & F.col("receiver_id").rlike(POT_RE)
            & F.col("success_json").isNotNull()
        )
        .withColumn("appl", F.from_json("success_json", APPLICATION_SCHEMA))
        .filter(F.col("appl.project_id").isNotNull())
        .select(
            F.col("receiver_id").alias("pot_id"),
            F.col("appl.project_id").alias("applicant_id"),
            F.col("appl.message").alias("message"),
            F.col("appl.status").alias("status"),
            ms_to_timestamp(F.col("appl.submitted_at")).alias("submitted_at"),
            F.col("block_time").alias("updated_at"),
            F.col("receipt_id").alias("tx_hash"),
            F.col("signer_id"),
            F.col("version"),
        )
    )


def list_upvotes(prepared: DataFrame) -> DataFrame:
    """handle_list_upvote (utils.py:631-664): upvote on the lists contract;
    args carry {list_id}; the account is the signer; unique (list, account)
    (lists/models.py:86-115)."""
    return (
        prepared.filter(
            (F.col("method_name") == "upvote") & (F.col("receiver_id") == LISTS_CONTRACT)
        )
        .select(
            F.get_json_object("args_json", "$.list_id").cast("long").alias("list_id"),
            F.col("signer_id").alias("account_id"),
            F.col("block_time").alias("created_at"),
            F.col("version"),
        )
        .filter(F.col("list_id").isNotNull())
    )


def new_lists(prepared: DataFrame) -> DataFrame:
    """handle_new_list (utils.py:333-374): create_list on the lists
    contract; payload = SuccessValue List object; ms → timestamps;
    admins as an array column (§1.3 choice)."""
    l = F.col("lst")
    return (
        prepared.filter(
            (F.col("method_name") == "create_list")
            & (F.col("receiver_id") == LISTS_CONTRACT)
            & F.col("success_json").isNotNull()
        )
        .withColumn("lst", F.from_json("success_json", LIST_SCHEMA))
        .filter(l["id"].isNotNull())
        .select(
            l["id"].alias("id"),
            l["id"].cast("int").alias("on_chain_id"),
            l["owner"].alias("owner_id"),
            l["admins"].alias("admins"),
            l["name"].alias("name"),
            l["description"].alias("description"),
            l["cover_image_url"].alias("cover_image_url"),
            l["admin_only_registrations"].alias("admin_only_registrations"),
            l["default_registration_status"].alias("default_registration_status"),
            ms_to_timestamp(l["created_at"]).alias("created_at"),
            ms_to_timestamp(l["updated_at"]).alias("updated_at"),
            F.col("version"),
        )
    )


def event_json_logs(prepared: DataFrame) -> DataFrame:
    """EVENT_JSON log dispatch (handler.py:95-139): explode log lines,
    keep the EVENT_JSON-prefixed ones (F10), parse {event, data[0]}.
    Downstream nadabot/pot-config normalizers filter on ``event``."""
    logline = F.col("logline")
    return (
        prepared.select(
            "block_height",
            "block_time",
            "receiver_id",
            "signer_id",
            "receipt_id",
            "version",
            F.explode_outer("logs").alias("logline"),
        )
        .filter(logline.startswith("EVENT_JSON:"))
        .withColumn(
            "ev", F.from_json(F.expr("substring(logline, 12)"), EVENT_JSON_SCHEMA)
        )
        .select(
            "block_height",
            "block_time",
            "receiver_id",
            "signer_id",
            "receipt_id",
            "version",
            F.col("ev.event").alias("event"),
            F.col("ev.data").getItem(0).alias("data_json"),
        )
    )


def nadabot_stamps(events: DataFrame) -> DataFrame:
    """handle_add_stamp via add_stamp event (handler.py:116-118,
    utils.py — stamp = (user, provider, verified_at))."""
    return events.filter(F.col("event") == "add_stamp").select(
        F.get_json_object("data_json", "$.stamp.user_id").alias("user_id"),
        F.get_json_object("data_json", "$.stamp.provider_id").cast("long").alias("provider_id"),
        F.col("block_time").cast("date").alias("verified_at"),
        F.col("version"),
    )


def nadabot_providers(events: DataFrame) -> DataFrame:
    """handle_new_provider via add_or_update_provider event
    (handler.py:111-114): provider config upsert keyed on on_chain_id."""
    return events.filter(F.col("event") == "add_or_update_provider").select(
        F.get_json_object("data_json", "$.provider.id").cast("int").alias("on_chain_id"),
        F.get_json_object("data_json", "$.provider.contract_id").alias("contract_id"),
        F.get_json_object("data_json", "$.provider.method_name").alias("method_name"),
        F.get_json_object("data_json", "$.provider.name").alias("name"),
        F.get_json_object("data_json", "$.provider.status").alias("status"),
        F.get_json_object("data_json", "$.provider.default_weight").cast("int").alias("default_weight"),
        F.col("receiver_id").alias("registry_id"),
        F.col("signer_id").alias("submitted_by_id"),
        F.col("block_time").alias("submitted_at"),
        F.col("version"),
    )



SET_PAYOUTS_SCHEMA = T.StructType(
    [
        T.StructField(
            "payouts",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("project_id", T.StringType()),
                        T.StructField("amount", T.StringType()),
                    ]
                )
            ),
        )
    ]
)

TRANSFER_PAYOUT_SCHEMA = T.StructType(
    [
        T.StructField(
            "payout",
            T.StructType(
                [
                    T.StructField("project_id", T.StringType()),
                    T.StructField("amount", T.StringType()),
                    T.StructField("paid_at", T.LongType()),
                ]
            ),
        )
    ]
)

APP_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("review_notes", T.StringType()),
        T.StructField("updated_at", T.LongType()),
    ]
)

REG_UPDATE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("admin_notes", T.StringType()),
        T.StructField("updated_ms", T.LongType()),
    ]
)


def _j(path: str) -> F.Column:
    return F.get_json_object("args_json", path)


def _jarr(path: str) -> F.Column:
    return F.from_json(_j(path), "array<string>")


def new_pots(prepared: DataFrame) -> DataFrame:
    """handle_new_pot (utils.py:117-216; route handler.py:204,216-227:
    'new' on a pot subaccount). Key fields of the deployment config;
    owner falls back to signer (the contract's own rule, utils.py:130-133,
    C17); admins kept as an array column (§1.3); stats columns start at
    zero and are owned by the gold jobs. First writer wins — the
    reference skips creation when the pot exists (utils.py:138-143)."""
    return (
        prepared.filter((F.col("method_name") == "new") & F.col("receiver_id").rlike(POT_RE))
        .select(
            F.col("receiver_id").alias("id"),
            F.col("predecessor_id").alias("pot_factory_id"),
            F.col("signer_id").alias("deployer_id"),
            F.col("block_time").alias("deployed_at"),
            F.coalesce(_j("$.owner"), F.col("signer_id")).alias("owner_id"),
            _j("$.chef").alias("chef_id"),
            _j("$.pot_name").alias("name"),
            _j("$.pot_description").alias("description"),
            _j("$.max_projects").cast("int").alias("max_approved_applicants"),
            F.lit("near").alias("base_currency"),
            ms_to_timestamp(_j("$.application_start_ms").cast("long")).alias("application_start"),
            ms_to_timestamp(_j("$.application_end_ms").cast("long")).alias("application_end"),
            ms_to_timestamp(_j("$.public_round_start_ms").cast("long")).alias("matching_round_start"),
            ms_to_timestamp(_j("$.public_round_end_ms").cast("long")).alias("matching_round_end"),
            _j("$.registry_provider").alias("registry_provider"),
            _j("$.min_matching_pool_donation_amount").alias("min_matching_pool_donation_amount"),
            _j("$.sybil_wrapper_provider").alias("sybil_wrapper_provider"),
            _j("$.custom_sybil_checks").alias("custom_sybil_checks"),
            _j("$.custom_min_threshold_score").cast("int").alias("custom_min_threshold_score"),
            _j("$.referral_fee_matching_pool_basis_points").cast("int").alias(
                "referral_fee_matching_pool_basis_points"
            ),
            _j("$.referral_fee_public_round_basis_points").cast("int").alias(
                "referral_fee_public_round_basis_points"
            ),
            _j("$.chef_fee_basis_points").cast("int").alias("chef_fee_basis_points"),
            _jarr("$.admins").alias("admins"),
            _j("$.source_metadata").alias("source_metadata"),
            F.lit("0").alias("total_matching_pool"),
            F.lit("0").alias("total_public_donations"),
            F.lit(False).alias("all_paid_out"),
            F.col("receipt_id").alias("tx_hash"),
            F.col("version"),
        )
    )


def new_pot_factories(prepared: DataFrame) -> DataFrame:
    """handle_new_pot_factory (utils.py:285-331; route handler.py:205-209:
    'new' on the bare factory account). Last writer wins
    (aupdate_or_create, utils.py:313-315)."""
    return (
        prepared.filter(
            (F.col("method_name") == "new") & F.col("receiver_id").rlike(POT_FACTORY_RE)
        )
        .select(
            F.col("receiver_id").alias("id"),
            _j("$.owner").alias("owner_id"),
            F.col("block_time").alias("deployed_at"),
            _j("$.source_metadata").alias("source_metadata"),
            _j("$.protocol_fee_basis_points").cast("int").alias("protocol_fee_basis_points"),
            _j("$.protocol_fee_recipient_account").alias("protocol_fee_recipient_id"),
            _j("$.require_whitelist").cast("boolean").alias("require_whitelist"),
            _jarr("$.admins").alias("admins"),
            _jarr("$.whitelisted_deployers").alias("whitelisted_deployers"),
            F.col("version"),
        )
    )


def new_nadabot_registries(prepared: DataFrame) -> DataFrame:
    """handle_new_nadabot_registry (utils.py:55-76; route handler.py:
    210-215). Last writer wins (aupdate_or_create)."""
    return (
        prepared.filter(
            (F.col("method_name") == "new") & F.col("receiver_id").rlike(NADABOT_RE)
        )
        .select(
            F.col("receiver_id").alias("id"),
            _j("$.owner").alias("owner_id"),
            F.col("block_time").alias("created_at"),
            F.col("block_time").alias("updated_at"),
            _j("$.source_metadata").alias("source_metadata"),
            _jarr("$.admins").alias("admins"),
            F.col("version"),
        )
    )


def deployment_accounts(prepared: DataFrame) -> DataFrame:
    """T8 cascade for deployments: every pot/factory/registry init upserts
    its owner/chef/admins/deployer accounts (utils.py:129-135,148-150,
    290-306,61-75)."""
    pots = new_pots(prepared)
    factories = new_pot_factories(prepared)
    registries = new_nadabot_registries(prepared)
    singles = [
        pots.select(F.explode(F.array("id", "owner_id", "chef_id", "deployer_id")).alias("id")),
        pots.select(F.explode_outer("admins").alias("id")),
        factories.select(
            F.explode(F.array("id", "owner_id", "protocol_fee_recipient_id")).alias("id")
        ),
        factories.select(F.explode_outer("admins").alias("id")),
        factories.select(F.explode_outer("whitelisted_deployers").alias("id")),
        registries.select(F.explode(F.array("id", "owner_id")).alias("id")),
        registries.select(F.explode_outer("admins").alias("id")),
    ]
    out = singles[0]
    for s in singles[1:]:
        out = out.unionByName(s)
    return out.filter(F.col("id").isNotNull()).distinct()


def pot_payouts(prepared: DataFrame) -> DataFrame:
    """handle_set_payouts + handle_transfer_payout as one frame
    (utils.py:667-733, routes handler.py:362-365,389-395).

    chef_set_payouts appends pending rows (paid_at NULL, token 'near' —
    pots pay native NEAR only, utils.py:674-676); transfer_payout_callback
    fulfills with paid_at = payload.paid_at or block time (utils.py:716).
    The reference has no unique constraint here and updates by recipient
    across pots (utils.py:721-723 — a known looseness); we pin the sane
    key: (pot_id, recipient_id), last writer wins, so a fulfillment row
    supersedes its pending row in the merge.
    """
    base = prepared.filter(F.col("receiver_id").rlike(POT_RE))
    p = F.col("p")
    sets = (
        base.filter(F.col("method_name") == "chef_set_payouts")
        .withColumn("parsed", F.from_json("args_json", SET_PAYOUTS_SCHEMA))
        .select(
            F.col("receiver_id").alias("pot_id"),
            F.explode("parsed.payouts").alias("p"),
            F.col("receipt_id").alias("tx_hash"),
            F.col("version"),
        )
        .select(
            "pot_id",
            p["project_id"].alias("recipient_id"),
            p["amount"].alias("amount"),
            F.lit("near").alias("token_id"),
            F.lit(None).cast("timestamp").alias("paid_at"),
            "tx_hash",
            "version",
        )
    )
    t = F.from_json("args_json", TRANSFER_PAYOUT_SCHEMA)["payout"]
    transfers = (
        base.filter(F.col("method_name") == "transfer_payout_callback")
        .withColumn("p", t)
        .filter(p["project_id"].isNotNull())
        .select(
            F.col("receiver_id").alias("pot_id"),
            p["project_id"].alias("recipient_id"),
            p["amount"].alias("amount"),
            F.lit("near").alias("token_id"),
            F.coalesce(ms_to_timestamp(p["paid_at"]), F.col("block_time")).alias("paid_at"),
            F.col("receipt_id").alias("tx_hash"),
            F.col("version"),
        )
    )
    return sets.unionByName(transfers)


def payout_challenges(prepared: DataFrame) -> DataFrame:
    """handle_payout_challenge (utils.py:735-761, route handler.py:367):
    challenger = signer, message = args.reason; natural key
    (challenger, pot) with last writer winning (aupdate_or_create)."""
    return (
        prepared.filter(F.col("receiver_id").rlike(POT_RE))
        .filter(F.col("method_name") == "challenge_payouts")
        .select(
            F.col("signer_id").alias("challenger_id"),
            F.col("receiver_id").alias("pot_id"),
            F.get_json_object("args_json", "$.reason").alias("message"),
            F.col("block_time").alias("created_at"),
            F.col("receipt_id").alias("tx_hash"),
            F.col("version"),
        )
    )


def challenge_responses(prepared: DataFrame) -> DataFrame:
    """handle_payout_challenge_response (utils.py:764-782, route
    handler.py:378): admin = signer; key (challenger, pot, created_at)
    (pots/models.py:692-695), last writer wins."""
    return (
        prepared.filter(F.col("receiver_id").rlike(POT_RE))
        .filter(F.col("method_name") == "admin_update_payouts_challenge")
        .select(
            F.get_json_object("args_json", "$.challenger_id").alias("challenger_id"),
            F.col("receiver_id").alias("pot_id"),
            F.col("signer_id").alias("admin_id"),
            F.get_json_object("args_json", "$.notes").alias("message"),
            F.get_json_object("args_json", "$.resolve_challenge")
            .cast("boolean")
            .alias("resolved"),
            F.col("block_time").alias("created_at"),
            F.col("receipt_id").alias("tx_hash"),
            F.col("version"),
        )
    )


def application_reviews(prepared: DataFrame) -> DataFrame:
    """handle_pot_application_status_change (utils.py:542-595, route
    handler.py:333-341): review payload is the decoded SuccessValue,
    applicant from args.project_id, reviewer = signer; key
    (application=(pot,applicant), reviewer, reviewed_at)
    (pots/models.py:507-510). The reference then mutates the application
    row's status in place; we event-source instead — the gold view picks
    the latest review per application (W1) for current status, which
    reaches the same final state replay-safely."""
    u = F.from_json("success_json", APP_STATUS_SCHEMA)
    return (
        prepared.filter(F.col("receiver_id").rlike(POT_RE))
        .filter(F.col("method_name") == "chef_set_application_status")
        .filter(F.col("success_json").isNotNull())
        .withColumn("u", u)
        .select(
            F.col("receiver_id").alias("pot_id"),
            F.get_json_object("args_json", "$.project_id").alias("applicant_id"),
            F.col("signer_id").alias("reviewer_id"),
            F.col("u")["status"].alias("status"),
            F.col("u")["review_notes"].alias("notes"),
            F.col("u")["updated_at"].alias("reviewed_ms"),
            ms_to_timestamp(F.col("u")["updated_at"]).alias("reviewed_at"),
            F.col("receipt_id").alias("tx_hash"),
            F.col("version"),
        )
    )


def registration_updates(prepared: DataFrame) -> DataFrame:
    """handle_list_registration_update (utils.py:449-471, route
    handler.py:351-361): update payload is the decoded SuccessValue,
    keyed on the registration's on-chain id; last writer wins. Gold
    joins the latest update onto list_registrations (same event-sourcing
    note as application_reviews)."""
    u = F.from_json("success_json", REG_UPDATE_SCHEMA)
    return (
        prepared.filter(F.col("receiver_id") == LISTS_CONTRACT)
        .filter(F.col("method_name") == "update_registration")
        .filter(F.col("success_json").isNotNull())
        .withColumn("u", u)
        .filter(F.col("u")["id"].isNotNull())
        .select(
            F.col("u")["id"].alias("registration_id"),
            F.col("u")["status"].alias("status"),
            F.col("u")["admin_notes"].alias("admin_notes"),
            ms_to_timestamp(F.col("u")["updated_ms"]).alias("updated_at"),
            F.col("version"),
        )
    )


def social_profile_updates(prepared: DataFrame) -> DataFrame:
    """handle_social_profile_update (utils.py:36-52): 'set' on the social
    contract where args.data[<signer>].profile exists. Emits the signer ids
    whose profile changed; the gold job joins them against existing
    accounts (J9 existence-gated update) and refreshes profile data."""
    data_map = F.from_json(
        F.get_json_object("args_json", "$.data"), "map<string,string>"
    )
    profile = F.get_json_object(
        F.element_at(data_map, F.col("signer_id")), "$.profile"
    )
    return (
        prepared.filter(
            (F.col("method_name") == "set") & (F.col("receiver_id") == SOCIAL_CONTRACT)
        )
        .withColumn("profile_json", profile)
        .filter(F.col("profile_json").isNotNull())
        .select(
            F.col("signer_id").alias("account_id"),
            "profile_json",
            F.col("block_time").alias("updated_at"),
            F.col("version"),
        )
    )


def nadabot_groups(events: DataFrame) -> DataFrame:
    """handle_new_group via add_or_update_group event (handler.py:123-124,
    utils.py:1160-1191): group payload under $.group; the rule enum is
    either a bare string or a one-entry dict — C14/C15 unwrap via
    scalars.rule_type/rule_val. acreate → first writer wins."""
    from ..functions.scalars import rule_type, rule_val

    g = F.get_json_object("data_json", "$.group")
    rule_raw = F.get_json_object("data_json", "$.group.rule")
    return events.filter(F.col("event") == "add_or_update_group").select(
        F.get_json_object("data_json", "$.group.id").cast("int").alias("id"),
        F.get_json_object("data_json", "$.group.name").alias("name"),
        rule_type(rule_raw).alias("rule_type"),
        rule_val(rule_raw).alias("rule_val"),
        F.from_json(F.get_json_object("data_json", "$.group.providers"), "array<int>").alias(
            "providers"
        ),
        F.col("block_time").alias("created_at"),
        F.col("block_time").alias("updated_at"),
        F.col("version"),
    )


def human_threshold_updates(events: DataFrame) -> DataFrame:
    """handle_update_default_human_threshold (handler.py:118-121,
    utils.py:1079-1089): registry threshold update, last writer wins."""
    return events.filter(F.col("event") == "update_default_human_threshold").select(
        F.col("receiver_id").alias("registry_id"),
        F.get_json_object("data_json", "$.default_human_threshold")
        .cast("int")
        .alias("default_human_threshold"),
        F.col("version"),
    )


def blacklist_actions(events: DataFrame) -> DataFrame:
    """handle_registry_blacklist_action / unblacklist (handler.py:125-133,
    utils.py:79-115): explode the account list into one action row each.
    The reference inserts rows on blacklist (ignore_conflicts) and DELETES
    by account on unblacklist (utils.py:111-113 — across registries, a
    looseness); event-sourced here: latest action per (registry, account)
    decides membership (domain.current_blacklist)."""
    acts = events.filter(F.col("event").isin("blacklist_account", "unblacklist_account"))
    return acts.select(
        F.col("receiver_id").alias("registry_id"),
        F.explode(
            F.from_json(F.get_json_object("data_json", "$.accounts"), "array<string>")
        ).alias("account_id"),
        F.when(F.col("event") == "blacklist_account", "blacklist")
        .otherwise("unblacklist")
        .alias("action"),
        F.get_json_object("data_json", "$.reason").alias("reason"),
        F.col("block_time").alias("action_at"),
        F.col("version"),
    )


def pot_config_events(events: DataFrame) -> DataFrame:
    """update_pot_config events (handler.py:105-108): the reference
    refreshes the pot from RPC (S4; its merge body is commented out,
    utils.py:219-283). Event-sourced: raw config payload per pot, latest
    wins; the S4 enrichment join parses it with the pot schema."""
    return events.filter(F.col("event") == "update_pot_config").select(
        F.col("receiver_id").alias("pot_id"),
        F.col("data_json").alias("config_json"),
        F.col("block_time").alias("updated_at"),
        F.col("version"),
    )


LIST_UPDATE_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("owner", T.StringType()),
        T.StructField("default_registration_status", T.StringType()),
        T.StructField("admin_only_registrations", T.BooleanType()),
        T.StructField("updated_at", T.LongType()),
        T.StructField("description", T.StringType()),
        T.StructField("cover_image_url", T.StringType()),
    ]
)

# handler.py:428-443: factory admin/config methods that trigger an RPC
# config refresh (handle_set_factory_configs — S4). Effective set only:
# owner_add_admins / owner_remove_admins are listed in the tuple but
# unreachable for factories (earlier cases at handler.py:396-406 and
# 422-427 break first); admin_add_whitelisted_deployers IS config-routed
# (handle_add_factory_deployers at utils.py:820-829 is dead code —
# nothing dispatches it).
FACTORY_CONFIG_METHODS = (
    "admin_set_require_whitelist",
    "admin_add_whitelisted_deployers",
    "admin_set_protocol_config",
    "admin_set_protocol_fee_recipient_account",
    "admin_set_protocol_fee_basis_points",
    "owner_set_admins",
    "owner_clear_admins",
)


def list_updates(prepared: DataFrame) -> DataFrame:
    """handle_default_list_status_change (utils.py:598-629, route
    handler.py:342-350): list field updates from the decoded SuccessValue,
    keyed on args.registration_id (which the handler uses as the LIST id);
    last writer wins. description/cover_image_url update only when present
    (the handler's conditional assignment) — NULL here means 'keep',
    applied by domain.current_lists' coalesce."""
    u = F.from_json("success_json", LIST_UPDATE_SCHEMA)
    return (
        prepared.filter(F.col("receiver_id") == LISTS_CONTRACT)
        .filter(F.col("method_name") == "admin_set_default_project_status")
        .filter(F.col("success_json").isNotNull())
        .withColumn("u", u)
        .select(
            F.get_json_object("args_json", "$.registration_id").cast("long").alias("list_id"),
            F.col("u")["name"].alias("name"),
            F.col("u")["owner"].alias("owner_id"),
            F.col("u")["default_registration_status"].alias("default_registration_status"),
            F.col("u")["admin_only_registrations"].alias("admin_only_registrations"),
            ms_to_timestamp(F.col("u")["updated_at"]).alias("updated_at"),
            F.col("u")["description"].alias("description"),
            F.col("u")["cover_image_url"].alias("cover_image_url"),
            F.col("version"),
        )
    )


def admin_ops(prepared: DataFrame) -> DataFrame:
    """Role-membership mutations as one event stream
    (entity_type, entity_id, role, account_id, op, version):

    - owner_remove_admins @ lists → remove list admins
      (handle_list_admin_removal, utils.py:785-807)
    - owner_add_admins @ nadabot registry → add registry admins
      (handle_add_nadabot_admin, utils.py:808-818)

    (Factory deployer adds route to the config-refresh marker instead —
    see FACTORY_CONFIG_METHODS; the reference's handle_add_factory_deployers
    is unreachable.) The reference mutates M2M tables in place;
    event-sourcing keeps the array columns immutable and derives
    membership in domain.current_role_members (latest op per member wins).
    """
    lists_rm = (
        prepared.filter(
            (F.col("method_name") == "owner_remove_admins")
            & (F.col("receiver_id") == LISTS_CONTRACT)
        )
        .select(
            F.lit("list").alias("entity_type"),
            _j("$.list_id").alias("entity_id"),
            F.lit("admin").alias("role"),
            F.explode(_jarr("$.admins")).alias("account_id"),
            F.lit("remove").alias("op"),
            F.col("version"),
        )
    )
    reg_add = (
        prepared.filter(
            (F.col("method_name") == "owner_add_admins")
            & F.col("receiver_id").rlike(NADABOT_RE)
        )
        .select(
            F.lit("registry").alias("entity_type"),
            F.col("receiver_id").alias("entity_id"),
            F.lit("admin").alias("role"),
            F.explode(_jarr("$.account_ids")).alias("account_id"),
            F.lit("add").alias("op"),
            F.col("version"),
        )
    )
    return lists_rm.unionByName(reg_add)


def factory_config_events(prepared: DataFrame) -> DataFrame:
    """handle_set_factory_configs (utils.py:831-840, route handler.py:
    428-443): any factory admin/config method marks the factory for an
    RPC config refresh (S4). Raw args kept for the enrichment join."""
    return (
        prepared.filter(
            F.col("method_name").isin(*FACTORY_CONFIG_METHODS)
            & F.col("receiver_id").rlike(POT_FACTORY_RE)
        )
        .select(
            F.col("receiver_id").alias("factory_id"),
            F.col("method_name"),
            F.col("args_json"),
            F.col("block_time").alias("updated_at"),
            F.col("version"),
        )
    )
