"""Bronze → silver → gold, end to end (SURVEY.md §3 lifecycle).

One synthetic block batch flows through the full medallion: lake-shaped
bronze rows → ingest_batch (normalize + versioned merge of all 28
entity pipelines into a bucketed silver store, read back with
silver.read_table) → domain gold plans (/stats, account stats, USD
pricing with the as-of join). Asserts cross-layer consistency: gold
numbers equal hand-computed truth from the raw events.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from django_indexer_spark.plans import domain
from tests.test_ingest import bronze_row, ingest, make_bronze


def donation(oid, donor, amount, recipient="charity.near", ms=1_700_000_000_000):
    return {
        "id": oid,
        "donor_id": donor,
        "total_amount": amount,
        "protocol_fee": "0",
        "recipient_id": recipient,
        "donated_at_ms": ms,
    }


def test_bronze_to_gold_consistency(spark, tmp_path):
    bronze = make_bronze(
        spark,
        [
            bronze_row(receipt_id="d1", success=donation(1, "alice.near", "1000")),
            bronze_row(receipt_id="d2", success=donation(2, "alice.near", "250"), ordinal=1),
            bronze_row(receipt_id="d3", success=donation(3, "bob.near", "500"), ordinal=2),
            # replay of d3 at a later height — merge must keep ONE row
            bronze_row(receipt_id="d3", success=donation(3, "bob.near", "500"), height=101),
        ],
    )
    silver = ingest(spark, bronze, tmp_path, 0)
    # domain plans run against the entity schema, whose surrogate id is
    # the F11 dedup key in the silver layer
    donations = silver["donations"].withColumn("id", F.col("dedup_key"))
    assert donations.count() == 3  # replay collapsed (T3)

    # gold /stats: USD columns are unpriced at ingest → price first (J6)
    prices = spark.createDataFrame(
        [("near", "2024-01-01 00:00:00", 2.0)],
        "token_id string, timestamp string, price_usd double",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    tokens = spark.createDataFrame([("near", 2)], "account_id string, decimals int")
    # donated_at_ms 1_700_000_000_000 = 2023-11-14; price row is outside
    # the ±24h window → NULL USD (repair-loop semantics)
    priced = domain.price_donations(donations, prices, tokens)
    assert all(r["total_amount_usd_computed"] is None for r in priced.collect())

    # in-window price: 2023-11-14 12:00
    prices2 = spark.createDataFrame(
        [("near", "2023-11-14 12:00:00", 2.0)],
        "token_id string, timestamp string, price_usd double",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    priced2 = domain.price_donations(donations, prices2, tokens)
    usd = {r["on_chain_id"]: float(r["total_amount_usd_computed"]) for r in priced2.collect()}
    # amount/10^decimals * price: 1000/100*2 = 20.0 etc.
    assert usd == {1: 20.0, 2: 5.0, 3: 10.0}

    # account stats over the priced donations == hand-computed truth
    accounts = silver["accounts"].select(
        "id", F.lit(1).alias("chain_id"), F.lit(None).cast("string").alias("near_social_profile_data")
    )
    enriched = priced2.withColumn("total_amount_usd", F.col("total_amount_usd_computed"))
    stats = {
        r["id"]: r.asDict()
        for r in domain.account_stats(
            accounts,
            enriched,
            spark.createDataFrame(
                [], "recipient_id string, amount_paid_usd double, paid_at timestamp"
            ),
        ).collect()
    }
    assert stats["alice.near"]["total_donations_out_usd"] == 25.0
    assert stats["bob.near"]["total_donations_out_usd"] == 10.0
    assert stats["charity.near"]["total_donations_in_usd"] == 35.0
    assert stats["charity.near"]["donors_count"] == 2
