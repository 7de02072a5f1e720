"""Explicit schemas — nothing in the pipeline is ever inferred.

Three families (SURVEY.md §1):

1. ``FIXTURE_SCHEMAS``  — the driver's TPC-H-ish parquet tables
   (/root/testdata/sf*/, see TESTDATA.md / FIXTURES.md §A).
2. ``ENTITY_SCHEMAS``   — the reference's 20 relational entities
   (accounts/models.py, donations/models.py, pots/models.py, ...)
   re-typed per SURVEY.md §1.2: address PKs as string, u128 amounts as
   digit-strings (lossless) with DecimalType(38,0) arithmetic, USD as
   DecimalType(20,2), JSONFields as raw strings parsed on read.
3. ``BLOCK_STREAM_SCHEMA`` — the flattened NEAR-lake receipt/action shape
   produced by the bronze explode (reference: indexer_app/handler.py:46-196).

Type policy (SURVEY.md §1.2):
- on-chain addresses: StringType (join keys, never numeric);
- u128 token amounts: StringType storage + Decimal(38,0) math. u128 max
  (~3.4e38) slightly exceeds Decimal(38); real amounts are ≪ 1e38 — the
  cap is documented here and guarded in tests;
- USD: DecimalType(20,2) (reference DecimalField(20,2),
  donations/models.py:45-53);
- block timestamps: LongType nanoseconds + conversion helpers
  (functions.scalars.ns_to_timestamp);
- JSON islands: StringType + from_json with the partial schemas below.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# 1. Driver fixture tables (FIXTURES.md §A — verified against parquet footers)
# --------------------------------------------------------------------------

FIXTURE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

FIXTURE_TABLES = tuple(FIXTURE_SCHEMAS)

# --------------------------------------------------------------------------
# 2. Reference entity schemas (SURVEY.md §1.1 — 20 models in 9 apps)
# --------------------------------------------------------------------------

_S = T.StringType()
_USD = T.DecimalType(20, 2)
_TS = T.TimestampType()
_B = T.BooleanType()
_I = T.IntegerType()
_L = T.LongType()


def _st(*fields: tuple) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


ENTITY_SCHEMAS: dict[str, T.StructType] = {
    # accounts/models.py:12-65 — address PK + denormalized stats columns
    "accounts": _st(
        ("id", _S),
        ("chain_id", _S),
        ("total_donations_in_usd", _USD),
        ("total_donations_out_usd", _USD),
        ("total_matching_pool_allocations_usd", _USD),
        ("donors_count", _I),
        ("near_social_profile_data", _S),  # JSON island
    ),
    # chains/models.py:5-48
    "chains": _st(
        ("id", _L),
        ("name", _S),
        ("evm_compat", _B),
        ("rpc_url", _S),
        ("explorer_url", _S),
    ),
    # tokens/models.py:16-128 — account OneToOne PK
    "tokens": _st(
        ("account_id", _S),
        ("name", _S),
        ("symbol", _S),
        ("icon", _S),
        ("decimals", _I),
        ("coingecko_id", _S),
    ),
    # tokens/models.py:131-152 — time series
    "token_historical_prices": _st(
        ("token_id", _S),
        ("timestamp", _TS),
        ("price_usd", _USD),
    ),
    # donations/models.py:19-200 — u128 amounts as digit-strings
    "donations": _st(
        ("id", _L),
        ("on_chain_id", _I),
        ("donor_id", _S),
        ("total_amount", _S),
        ("net_amount", _S),
        ("total_amount_usd", _USD),
        ("net_amount_usd", _USD),
        ("token_id", _S),
        ("pot_id", _S),  # nullable: null = direct donation (F11)
        ("matching_pool", _B),
        ("message", _S),
        ("donated_at", _TS),
        ("recipient_id", _S),
        ("protocol_fee", _S),
        ("protocol_fee_usd", _USD),
        ("referrer_id", _S),
        ("referrer_fee", _S),
        ("referrer_fee_usd", _USD),
        ("chef_id", _S),
        ("chef_fee", _S),
        ("chef_fee_usd", _USD),
        ("tx_hash", _S),
    ),
    # pots/models.py:15-105
    "pot_factories": _st(
        ("account_id", _S),
        ("owner_id", _S),
        ("admins", T.ArrayType(_S)),
        ("whitelisted_deployers", T.ArrayType(_S)),
        ("deployed_at", _TS),
        ("source_metadata", _S),
        ("protocol_fee_basis_points", _I),
        ("protocol_fee_recipient_id", _S),
        ("require_whitelist", _B),
    ),
    # pots/models.py:108-323
    "pots": _st(
        ("account_id", _S),
        ("pot_factory_id", _S),
        ("deployer_id", _S),
        ("deployed_at", _TS),
        ("source_metadata", _S),
        ("owner_id", _S),
        ("admins", T.ArrayType(_S)),
        ("chef_id", _S),
        ("name", _S),
        ("description", _S),
        ("max_approved_applicants", _I),
        ("base_currency", _S),
        ("application_start", _TS),
        ("application_end", _TS),
        ("matching_round_start", _TS),
        ("matching_round_end", _TS),
        ("registry_provider", _S),
        ("min_matching_pool_donation_amount", _S),
        ("sybil_wrapper_provider", _S),
        ("custom_sybil_checks", _S),
        ("custom_min_threshold_score", _I),
        ("referral_fee_matching_pool_basis_points", _I),
        ("referral_fee_public_round_basis_points", _I),
        ("chef_fee_basis_points", _I),
        ("total_matching_pool", _S),
        ("total_matching_pool_usd", _USD),
        ("matching_pool_balance", _S),
        ("matching_pool_donations_count", _I),
        ("total_public_donations", _S),
        ("total_public_donations_usd", _USD),
        ("public_donations_count", _I),
        ("cooldown_end", _TS),
        ("cooldown_period_ms", _I),
        ("all_paid_out", _B),
        ("protocol_config_provider", _S),
    ),
    # pots/models.py:397-458 — unique (pot, applicant)
    "pot_applications": _st(
        ("id", _L),
        ("pot_id", _S),
        ("applicant_id", _S),
        ("message", _S),
        ("status", _S),  # Pending|Approved|Rejected|InReview|Chef (pots/models.py:390-394)
        ("submitted_at", _TS),
        ("updated_at", _TS),
        ("tx_hash", _S),
    ),
    # pots/models.py:461-510
    "pot_application_reviews": _st(
        ("id", _L),
        ("application_id", _L),
        ("reviewer_id", _S),
        ("notes", _S),
        ("status", _S),
        ("reviewed_at", _TS),
        ("tx_hash", _S),
    ),
    # pots/models.py:513-586
    "pot_payouts": _st(
        ("id", _L),
        ("pot_id", _S),
        ("recipient_id", _S),
        ("amount", _S),
        ("amount_paid_usd", _USD),
        ("token_id", _S),
        ("paid_at", _TS),  # nullable: null = scheduled, not yet paid
        ("tx_hash", _S),
    ),
    # pots/models.py:589-635
    "pot_payout_challenges": _st(
        ("id", _L),
        ("challenger_id", _S),
        ("pot_id", _S),
        ("created_at", _TS),
        ("message", _S),
    ),
    # pots/models.py:638-695
    "pot_payout_challenge_admin_responses": _st(
        ("id", _L),
        ("challenger_id", _S),
        ("pot_id", _S),
        ("admin_id", _S),
        ("created_at", _TS),
        ("message", _S),
        ("resolved", _B),
        ("tx_hash", _S),
    ),
    # lists/models.py:15-83
    "lists": _st(
        ("id", _L),
        ("on_chain_id", _I),
        ("owner_id", _S),
        ("admins", T.ArrayType(_S)),
        ("name", _S),
        ("description", _S),
        ("cover_image_url", _S),
        ("admin_only_registrations", _B),
        ("default_registration_status", _S),
        ("created_at", _TS),
        ("updated_at", _TS),
    ),
    # lists/models.py:86-115 — unique (list, account)
    "list_upvotes": _st(
        ("id", _L),
        ("list_id", _L),
        ("account_id", _S),
        ("created_at", _TS),
    ),
    # lists/models.py:118-187 — unique (list, registrant)
    "list_registrations": _st(
        ("id", _L),
        ("list_id", _L),
        ("registrant_id", _S),
        ("registered_by_id", _S),
        ("status", _S),  # Pending|Approved|Rejected|Graylisted|Blacklisted (lists/models.py:7-12)
        ("submitted_at", _TS),
        ("updated_at", _TS),
        ("registrant_notes", _S),
        ("admin_notes", _S),
        ("tx_hash", _S),
    ),
    # activities/models.py:22-72 — 12-value type enum (activities/models.py:7-19)
    "activities": _st(
        ("id", _L),
        ("signer_id", _S),
        ("receiver_id", _S),
        ("timestamp", _TS),
        ("action_result", _S),  # JSON island
        ("tx_hash", _S),
        ("type", _S),
    ),
    # nadabot/models.py:22-65
    "nadabot_registries": _st(
        ("account_id", _S),
        ("owner_id", _S),
        ("admins", T.ArrayType(_S)),
        ("default_human_threshold", _I),
        ("created_at", _TS),
        ("updated_at", _TS),
        ("source_metadata", _S),
    ),
    # nadabot/models.py:68-96
    "nadabot_blacklist": _st(
        ("id", _L),
        ("registry_id", _S),
        ("account_id", _S),
        ("reason", _S),
        ("date_blacklisted", _TS),
    ),
    # nadabot/models.py:98-219
    "nadabot_providers": _st(
        ("id", _L),
        ("on_chain_id", _I),
        ("contract_id", _S),
        ("method_name", _S),
        ("name", _S),
        ("description", _S),
        ("status", _S),  # Pending|Active|Deactivated (nadabot/models.py:7-12)
        ("admin_notes", _S),
        ("default_weight", _I),
        ("gas", _L),
        ("tags", _S),  # JSON island
        ("icon_url", _S),
        ("external_url", _S),
        ("submitted_by_id", _S),
        ("submitted_at", _TS),
        ("stamp_validity_ms", _L),
        ("account_id_arg_name", _S),
        ("custom_args", _S),
        ("registry_id", _S),
    ),
    # nadabot/models.py:221-239
    "nadabot_stamps": _st(
        ("id", _L),
        ("user_id", _S),
        ("provider_id", _L),
        ("verified_at", T.DateType()),
    ),
    # nadabot/models.py:241-280 — explicit integer PK, rule enum-dict (C14)
    "nadabot_groups": _st(
        ("id", _L),
        ("registry_id", _S),
        ("name", _S),
        ("rule_type", _S),  # Highest|Lowest|Sum|DiminishingReturns|IncreasingReturns
        ("rule_val", _I),  # value half of the enum-dict rule (utils.py:1164-1181)
        ("providers", T.ArrayType(_L)),
        ("created_at", _TS),
        ("updated_at", _TS),
    ),
    # indexer_app/models.py:5-24 — checkpoint singleton
    "block_heights": _st(
        ("id", _I),
        ("block_height", _L),
        ("updated_at", _TS),
    ),
}

# --------------------------------------------------------------------------
# 3. Bronze block-stream shape (handler.py:46-196 flattened)
# --------------------------------------------------------------------------

# One row per (receipt, action). The raw lake StreamerMessage is
# shards[] -> receipt_execution_outcomes[] -> receipt{Action{actions[]}};
# the bronze explode (sources.lake) flattens to this.
BLOCK_STREAM_SCHEMA = _st(
    ("block_height", _L),
    ("block_timestamp_ns", _L),
    ("shard_id", _I),
    ("receipt_id", _S),
    ("predecessor_id", _S),
    ("receiver_id", _S),
    ("signer_id", _S),
    ("status_kind", _S),  # SuccessValue|SuccessReceiptId|Failure (handler.py:75-82)
    ("success_value_b64", _S),
    ("method_name", _S),
    ("args_b64", _S),
    ("logs", T.ArrayType(_S)),  # entries prefixed "EVENT_JSON:" (handler.py:100)
)

# Nested raw-lake message schema (S1): what spark.read.json of a lake dump
# uses instead of inference. Kept partial — only fields the pipeline touches.
LAKE_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField(
            "block",
            T.StructType(
                [
                    T.StructField(
                        "header",
                        T.StructType(
                            [
                                T.StructField("height", _L),
                                T.StructField("timestamp", _L),  # nanoseconds
                            ]
                        ),
                    )
                ]
            ),
        ),
        T.StructField(
            "shards",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("shard_id", _I),
                        T.StructField(
                            "receipt_execution_outcomes",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField(
                                            "receipt",
                                            T.StructType(
                                                [
                                                    T.StructField("receipt_id", _S),
                                                    T.StructField("predecessor_id", _S),
                                                    T.StructField("receiver_id", _S),
                                                    T.StructField(
                                                        "receipt",
                                                        T.StructType(
                                                            [
                                                                T.StructField(
                                                                    "Action",
                                                                    T.StructType(
                                                                        [
                                                                            T.StructField("signer_id", _S),
                                                                            T.StructField(
                                                                                "actions",
                                                                                T.ArrayType(
                                                                                    T.StructType(
                                                                                        [
                                                                                            T.StructField(
                                                                                                "FunctionCall",
                                                                                                T.StructType(
                                                                                                    [
                                                                                                        T.StructField("method_name", _S),
                                                                                                        T.StructField("args", _S),
                                                                                                    ]
                                                                                                ),
                                                                                            )
                                                                                        ]
                                                                                    )
                                                                                ),
                                                                            ),
                                                                        ]
                                                                    ),
                                                                )
                                                            ]
                                                        ),
                                                    ),
                                                ]
                                            ),
                                        ),
                                        T.StructField(
                                            "execution_outcome",
                                            T.StructType(
                                                [
                                                    T.StructField(
                                                        "outcome",
                                                        T.StructType(
                                                            [
                                                                T.StructField("logs", T.ArrayType(_S)),
                                                                T.StructField(
                                                                    "status",
                                                                    T.StructType(
                                                                        [
                                                                            T.StructField("SuccessValue", _S),
                                                                            T.StructField("SuccessReceiptId", _S),
                                                                        ]
                                                                    ),
                                                                ),
                                                            ]
                                                        ),
                                                    )
                                                ]
                                            ),
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)
