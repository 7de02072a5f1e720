"""One periodic-aggregate tick (the beat) over a silver store, written
as gold parquet, and its check against the ledger.

``domain.price_donations`` prices the donations over a generated NEAR
price series; ``account_stats``, ``pot_stats``, ``stats`` and
``donors_leaderboard`` then run over the priced frame. Each step's wall
time is returned for the per-layer ``domain.*`` metrics.
"""

from __future__ import annotations

import time
from decimal import Decimal

import lakegen


def payouts_usd(payouts):
    """pot_payouts with the USD column the stats routes sum (1 USD/NEAR)."""
    from pyspark.sql import functions as F

    from django_indexer_spark.functions.amounts import guarded_amount

    return payouts.withColumn(
        "amount_paid_usd",
        F.round(guarded_amount("amount") / F.lit(Decimal(lakegen.YOCTO)), 2).cast("decimal(20,2)"),
    )


def beat(spark, store: str, gold: str, ledger: lakegen.Ledger) -> dict[str, float]:
    """One periodic-aggregate tick over the silver store, written as gold.
    Returns per-step wall times in ms."""
    from pyspark.sql import functions as F

    from django_indexer_spark.plans import domain
    from django_indexer_spark.sources import silver

    times: dict[str, float] = {}

    def step(name, fn):
        t = time.perf_counter()
        out = fn()
        times[name] = (time.perf_counter() - t) * 1e3
        return out

    t_all = time.perf_counter()
    donations = silver.read_table(spark, f"{store}/donations").withColumn("id", F.col("dedup_key"))
    # the token dimension as ingest creates it: NEAR, 24 decimals
    tokens = spark.createDataFrame([(lakegen.TOKEN, 24)], "account_id string, decimals int")
    prices = spark.createDataFrame(
        [(lakegen.TOKEN, t, p) for t, p in ledger.prices], "token_id string, ts long, price_usd double"
    ).select("token_id", F.timestamp_seconds("ts").alias("timestamp"), "price_usd")
    payouts = payouts_usd(silver.read_table(spark, f"{store}/pot_payouts"))
    accounts = silver.read_table(spark, f"{store}/accounts").select(
        "id", F.lit(1).alias("chain_id"), F.lit(None).cast("string").alias("near_social_profile_data")
    )
    pots = silver.read_table(spark, f"{store}/pots").withColumnRenamed("id", "account_id")

    def priced_donations():
        priced = domain.price_donations(donations, prices, tokens).withColumn(
            "total_amount_usd", F.col("total_amount_usd_computed")
        ).drop("r_price_usd", "r_timestamp", "decimals", "total_amount_usd_computed")
        priced.write.mode("overwrite").parquet(f"{gold}/donations_priced")
        return spark.read.parquet(f"{gold}/donations_priced")

    priced = step("price", priced_donations)

    def write(name, df):
        df.write.mode("overwrite").parquet(f"{gold}/{name}")
        return spark.read.parquet(f"{gold}/{name}")

    stats_acc = step("account_stats", lambda: write("account_stats", domain.account_stats(accounts, priced, payouts)))
    step("pot_stats", lambda: write("pot_stats", domain.pot_stats(pots, priced)))
    step("stats", lambda: write("stats", domain.stats(priced, payouts)))
    step("leaderboard", lambda: write("donors_leaderboard", domain.donors_leaderboard(stats_acc, priced)))
    times["beat"] = (time.perf_counter() - t_all) * 1e3
    return times


def check_gold(gold: str, ledger: lakegen.Ledger, failures: list) -> int:
    """Gold ``stats`` against ledger totals."""
    import pyarrow.parquet as pq

    rows = ledger.donation_rows()
    paid = [r for _, r in ledger.payouts.values() if r["paid"]]
    want = (
        sum(ledger.donation_usd(r) for r in rows),
        len(rows),
        len({r["donor_id"] for r in rows}),
        len({r["recipient_id"] for r in rows}),
        sum(ledger.payout_usd(r) for r in paid) if paid else None,
    )
    r = pq.read_table(f"{gold}/stats").to_pylist()[0]
    got = (
        r["total_donations_usd"], r["total_donations_count"], r["unique_donors"],
        r["unique_recipients"], r["total_payouts_usd"],
    )
    if got != want:
        failures.append(f"gold stats {got} != ledger {want}")
        return 1
    return 0
