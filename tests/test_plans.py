"""Physical-plan regression guards (SURVEY.md §4; README '100 TB' notes).

Correct results can still ship a wrong plan — these tests pin the plan
properties the engine's scale story depends on, so a refactor that
silently drops a broadcast hint or breaks predicate pushdown fails CI,
not the cluster.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from django_indexer_spark.plans.fixture_queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def plan_of(spark, name: str) -> str:
    return (
        QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )


def test_filters_push_into_parquet_scan(spark):
    plan = plan_of(spark, "f1_eq_filter")
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan


def test_projection_prunes_scan_columns(spark):
    plan = plan_of(spark, "f1_eq_filter")
    # ReadSchema carries only the 3 projected columns, not all 9
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_orderkey" in read and "o_totalprice" in read
    assert "o_comment" not in read and "o_orderdate" not in read


def test_fk_chain_joins_all_broadcast(spark):
    plan = plan_of(spark, "j1_fk_chain_revenue")
    # all four dim joins broadcast AT FIXTURE SCALE (customer fits the
    # 64 MB threshold here, so AQE/threshold picks broadcast without a
    # hint); the fact side must never appear on a build side
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def analyzed_plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF_DIR)._jdf.queryExecution().analyzed().toString()


def test_fact_scale_sides_carry_no_broadcast_hint(spark):
    # customer/supplier grow with SF — a forced broadcast hint on them
    # OOMs executors at 100×. Only constant-size dims may be hinted:
    # j1 hints nation+region (2), j8 hints the two nation roles (2).
    # The strategy for customer/supplier must stay threshold/AQE-decided.
    j1 = analyzed_plan_of(spark, "j1_fk_chain_revenue")
    assert j1.count("ResolvedHint") == 2, j1
    j8 = analyzed_plan_of(spark, "j8_self_double_fk")
    assert j8.count("ResolvedHint") == 2, j8


def test_semi_and_anti_joins_compile_to_join_types(spark):
    assert "LeftSemi" in plan_of(spark, "j4_semi_join")
    assert "LeftSemi" in plan_of(spark, "j5_semi_in_subquery")
    assert "LeftAnti" in plan_of(spark, "j7_anti_join")


def test_top1_windows_use_group_limit(spark):
    # W1/J6 top-1-per-group must run the partial WindowGroupLimit
    # (map-side candidate pruning BEFORE the shuffle)
    assert "WindowGroupLimit" in plan_of(spark, "w1_latest_per_user")
    assert "WindowGroupLimit" in plan_of(spark, "j6_asof_nearest")


def test_top_k_avoids_global_sort(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "o4_top_k")


def test_leaderboard_rank_bounds_input_before_window(spark):
    # W3 scale-safe form: the un-partitioned rank window may only see the
    # top-k slice — TakeOrderedAndProject must bound the input, never a
    # full Sort feeding the Window
    plan = plan_of(spark, "w3_rank_leaderboard")
    assert "TakeOrderedAndProject" in plan, plan
    window_at = plan.index("Window")
    bound_at = plan.index("TakeOrderedAndProject")
    assert bound_at > window_at  # executed bottom-up: bound sits BELOW the window


def test_keyset_page_pushes_cursor_and_heaps(spark):
    # the deep-page story: cursor predicate reaches the parquet scan
    # (files prune on key min/max) and the page is a TakeOrderedAndProject
    # heap — no offset, no global sort, page depth never appears
    plan = plan_of(spark, "o3_keyset_page")
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [Or(GreaterThan(c_mktsegment,BUILDING)" in plan
    assert "Exchange" not in plan  # scan → local heaps → driver merge


def test_activity_feed_single_window_shuffle(spark):
    # classify → dedup-window → rollup: ONE exchange feeds the window
    # (hash by the dedup key) and AQE reuses it for the type rollup —
    # a second full shuffle of the feed would double the IO at 100 TB
    plan = plan_of(spark, "activity_feed_by_type")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "WindowGroupLimit" in plan  # rank pushdown prunes losers early


def test_fuzzy_dedup_joins_on_signature_equality(spark):
    # candidate generation must be the signature EQUI-join — a nested-loop
    # over name pairs is the quadratic shape this query exists to avoid
    plan = plan_of(spark, "dedup_fuzzy_names")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "sig" in plan  # join keys carry the deletion signature


def test_no_python_udfs_in_gate_queries(spark):
    # the whole §2 parity surface is JVM-side: no BatchEvalPython /
    # ArrowEvalPython stages anywhere
    for name in (
        "q1_pricing_summary",
        "j6_asof_nearest",
        "dedup_minhash_pairs",
        "sim_cosine_topk",
        "text_metrics",
        "multimodal_meta",
    ):
        plan = plan_of(spark, name)
        assert "EvalPython" not in plan, name


def test_coverage_doc_mentions_every_query():
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "coverage_check.py")],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_bm25_filters_tokens_before_any_shuffle(spark):
    # the query-term IN filter must run in the explode stage (before the
    # tf/df aggregates), so shuffles carry only the matching slice
    plan = plan_of(spark, "text_bm25")
    assert "token" in plan and " IN (spark,hash,merge,vector)" in plan
    # every grouped aggregate sits above the filtered projection — there
    # is no Exchange whose input still carries the full token stream
    first_exchange = plan.index("Exchange hashpartitioning")
    assert " IN (spark,hash,merge,vector)" in plan[first_exchange:], (
        "token filter must appear below the first token-stream shuffle"
    )


def test_centroid_cosine_scoring_is_broadcast_join(spark):
    # the corpus side must never reshuffle for scoring: centroids
    # broadcast, and the only hash exchanges feed the centroid aggregate
    plan = plan_of(spark, "sim_centroid_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_moving_avg_single_user_shuffle(spark):
    # one exchange on user_id feeds both the lag and the frame windows
    plan = plan_of(spark, "ts_moving_avg")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_setop_plans_as_semi_anti_joins(spark):
    plan = plan_of(spark, "setop_intersect_except")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_global_rank_has_no_fact_scale_single_partition_window(spark):
    """w_global_rank ranks the WHOLE orders table; the plan must keep
    every full-input window partitioned (__pid) and confine the single-
    partition window + exchange to the ≤num_partitions prefix-offset side.
    Also pins the ReuseExchange of the range shuffle (the table is range-
    partitioned once, not twice)."""
    df = QUERIES["w_global_rank"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the rank window runs per range-partition, never globally
    assert "windowspecdefinition(__pid" in plan
    # the only unpartitioned window is the prefix-offset running sum over
    # the per-partition counts (input bounded by num_partitions)
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "windowspecdefinition(__pid" not in line:
            assert "__n" in line, f"unpartitioned window over non-count input: {line}"
    assert "rangepartitioning" in plan
    # both consumers read ONE materialized range shuffle
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final


def test_global_rank_matches_bounded_rank(spark):
    """ranked_global == ranked on the same input (ties included)."""
    from django_indexer_spark.operators import windows

    df = spark.range(0, 500).select(
        F.col("id"), (F.col("id") % 7).alias("score")
    )
    order = [F.desc("score"), F.asc("id")]
    a = {(r["id"], r["rank"]) for r in windows.ranked_global(df, order, num_partitions=8).collect()}
    b = {(r["id"], r["rank"]) for r in windows.ranked(df, order).collect()}
    assert a == b
    # dense variant
    a2 = {
        (r["id"], r["rank"])
        for r in windows.ranked_global(
            df, [F.desc("score")], num_partitions=8, dense=True, key_cols=["score"]
        ).collect()
    }
    b2 = {
        (r["id"], r["rank"])
        for r in windows.ranked(df, [F.desc("score")], dense=True).collect()
    }
    assert a2 == b2


def test_global_plan_hygiene_all_queries(spark):
    """Sweep EVERY registry query's physical plan for scale anti-patterns:
    - CartesianProduct: unbounded pair blowup (1-row cross joins plan as
      BroadcastNestedLoopJoin, which is fine and stays off this list)
    - Python in the row path (ArrowEvalPython / BatchEvalPython /
      FlatMapGroupsInPandas...): allowed only where the operator is
      genuinely inexpressible in DataFrame algebra (the MG sketch)

    Also enforces tools/plan_budgets.json (round-4 verdict #8): the
    committed per-query ceilings on shuffle / SMJ / Arrow / Python-UDF /
    cartesian counts, so a refactor can't silently add a shuffle or a
    Python stage to any gate query (the round-4 dedup-family bench drift
    is exactly the regression class this catches). Regenerate ceilings
    deliberately with `python tools/plan_audit.py --write-budgets` after
    reviewing every increase.
    """
    import json
    from pathlib import Path

    from tools.plan_audit import audit

    budgets = json.loads(
        (Path(__file__).resolve().parent.parent / "tools" / "plan_budgets.json")
        .read_text()
    )
    capped = ("exch", "range", "single", "smj", "shj", "arrow", "pyudf", "cart")

    # census COLD plans: earlier tests in the session may have left
    # persisted frames (BoundedFrameCache pins minhash signatures for
    # up to 4 calls), and Spark's CacheManager substitutes a cached
    # relation into any new identical subplan — which changes the
    # exchange census vs the cold plan tools/plan_audit.py generated
    # the budgets from (observed: dedup_minhash_estimate exch 8-vs-5
    # only when test_contract ran first). Within-loop cache effects are
    # fine — the audit iterates the same registry order.
    spark.catalog.clearCache()

    py_ok = {
        "text_heavy_hitters",  # mapInPandas Misra-Gries sketch
        # the JPEG codec gate: synth + decode→resample→transcode are
        # genuinely Python (Arrow-batched mapInPandas, blobs never shuffle)
        "multimodal_resize_fingerprint",
        # round-10 ingest gates: payload synthesis + codec decode are
        # genuinely Python (Arrow-batched; blobs never shuffle except
        # webdataset_pack's single deliberate shard-routing shuffle)
        "multimodal_phash_pairs",
        "multimodal_audio_fingerprint",
        "crawl_fingerprint",
        "webdataset_roundtrip",
        "multimodal_container_meta",
        "multimodal_exif_meta",
        "multimodal_video_meta",
        "multimodal_transform_fingerprint",
        "multimodal_image_stats",
        "multimodal_audio_segments",
        "multimodal_resample_fingerprint",
        "crawl_warc_records",
        "multimodal_frame_timestamps",
        # round-11: ID3/FLAC/Ogg/GIF/animation header walks are byte
        # parsers (Arrow-batched; blobs never shuffle)
        "multimodal_tag_meta",
    }
    offenders: list[tuple[str, str]] = []
    for name in QUERIES:
        plan = plan_of(spark, name)
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if name not in py_ok and ("EvalPython" in plan or "InPandas" in plan):
            offenders.append((name, "python-in-row-path"))
        census = audit(plan)
        if name not in budgets:
            offenders.append((name, "no plan budget — run plan_audit --write-budgets"))
            continue
        for c in capped:
            if census[c] > budgets[name][c]:
                offenders.append(
                    (name, f"{c} {census[c]} > budget {budgets[name][c]}")
                )
    assert not offenders, offenders


def test_q5_dims_broadcast_and_date_pushdown(spark):
    # six-table join: every dim join broadcasts at fixture scale and the
    # order-date year lands in the parquet scan, not a post-scan filter
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert "SortMergeJoin" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_dup_spans_shared_window_join_shuffles(spark):
    # the shared-window set grows with the corpus: its semi-join must be
    # a shuffle join (uniform md5 key), never a driver-sized broadcast
    plan = plan_of(spark, "text_dup_spans")
    semi = [l for l in plan.splitlines() if "LeftSemi" in l]
    assert semi and all("ShuffledHashJoin" in l or "SortMergeJoin" in l for l in semi), semi


def test_token_budget_windows_stay_partition_local(spark):
    # both windows must be partitioned: the cumsum by (__pid, group), the
    # prefix-offset running sum by group over per-partition sizes — no
    # unpartitioned window anywhere in the plan
    plan = plan_of(spark, "sample_token_budget")
    wins = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert wins
    for line in wins:
        assert "windowspecdefinition(__pid" in line or "windowspecdefinition(source" in line, line


def test_semantic_dedup_pairs_meet_inside_cells(spark):
    # the SemDeDup pair join is an equi-join on centroid_id with the
    # a<b predicate riding it — never an unbounded corpus cross join
    plan = plan_of(spark, "dedup_semantic")
    pair = [
        l for l in plan.splitlines()
        if "Join" in l and "centroid_id" in l and "Inner" in l
    ]
    assert pair, plan


def test_skew_profile_topk_and_broadcast_totals(spark):
    """Top-N must be TakeOrdered (never a global sort of the key counts)
    and the 1-row totals side must broadcast back."""
    plan = plan_of(spark, "qa_skew_profile")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals crossJoin
    assert "SortMergeJoin" not in plan


def test_scd2_and_streak_windows_stay_entity_partitioned(spark):
    """SCD-2 and streak islands are per-entity — no window in either plan
    may collapse to a single partition."""
    for q in ("t_scd2_intervals", "ts_state_streaks"):
        plan = plan_of(spark, q)
        assert "Exchange SinglePartition" not in plan.split("TakeOrdered")[0], q


def test_constraint_checks_single_scan_for_row_checks(spark):
    """All five lineitem row checks fold into ONE scan of lineitem plus
    one more for the referential anti-join — the plan must not scan
    lineitem once per check."""
    plan = plan_of(spark, "qa_constraint_checks")
    assert plan.count("lineitem.parquet") <= 2
    assert "LeftAnti" in plan


def test_chunk_overlap_is_map_only(spark):
    """Chunking must stay embarrassingly parallel: no hash/range/single
    exchange anywhere in the plan (the only exchange allowed is the
    fixture _spread round-robin)."""
    plan = plan_of(spark, "text_chunk_overlap")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_sequence_gaps_no_global_window_over_keys(spark):
    """The only single-partition window allowed is the ≤num_partitions
    boundary-stitch; the full key relation must lag inside its range
    partition."""
    plan = plan_of(spark, "qa_sequence_gaps")
    assert "windowspecdefinition(__pid" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "__pid" not in line:
            assert "__hi" in line or "__lo" in line, line
    assert "rangepartitioning" in plan


def test_grouped_prefix_sums_range_exchange_reused(spark):
    """grouped_prefix_sums' correctness depends on BOTH consumers of the
    range partitioning (per-partition sizes and the final row join)
    reading the SAME materialized exchange: a recomputed exchange could
    resample range bounds and tag rows with different __pid values in
    each branch, silently corrupting the prefix offsets. Pin the
    ReuseExchange the same way test_global_rank does for ranked_global."""
    df = QUERIES["sample_token_budget"](spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final
    assert "rangepartitioning" in final


def test_spread_is_widen_only(spark):
    """_spread (round-12 verdict #1): a 1-split fixture scan widens to
    defaultParallelism, but an input already at/above parallelism must
    come back UNTOUCHED — at 100 TB the old unconditional
    repartition(defaultParallelism) would coalesce a many-split scan
    into #cores multi-GB partitions and pay a corpus-sized exchange."""
    from django_indexer_spark.plans.fixture_queries import _spread

    width = spark.sparkContext.defaultParallelism
    narrow = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert narrow.rdd.getNumPartitions() < width  # fixture premise
    widened = _spread(spark, narrow)
    assert widened.rdd.getNumPartitions() == width
    assert "RoundRobinPartitioning" in (
        widened._jdf.queryExecution().executedPlan().toString()
    )

    wide = spark.range(0, 10_000, 1, width * 2)
    assert _spread(spark, wide) is wide  # no exchange inserted
