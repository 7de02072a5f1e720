"""Data-quality operators: column profiling, join-key skew diagnostics,
and Deequ-style constraint checks — the validation pass a training-data
pipeline runs before (and after) every heavy transform.

Reference parity note: the reference validates rows imperatively at
ingest time (per-model ``save()`` guards and admin spot checks, e.g.
donations/models.py:36-118 field constraints, accounts upserted with
implicit PK uniqueness). At 100 TB nobody validates row-at-a-time in
Python; the equivalent is a declarative one-pass aggregate over the
table that returns a small (check, violations) relation. That shape is
what this module provides.

Scale design:
- ``column_profile`` never compiles to the multi-distinct Expand plan
  (see its docstring for the measured SortAggregate pathology): one
  HashAggregate scan for counts/native-min-max (+ HLL distincts in
  ``approx`` mode), plus — exact mode only — a melt→hash-dedup pass
  whose string min/max sees already-deduplicated values. ``approx``
  is the 100 TB default; exact is for gates and small dims.
- ``skew_profile`` aggregates per key FIRST (map-side partial combine,
  one shuffle of |keys| rows), derives the global total from the 1-row
  re-aggregate of the grouped counts (broadcast back), and top-k's with
  orderBy+limit (TakeOrderedAndProject — never a global sort).
- ``constraint_checks`` folds every row-level predicate into a single
  aggregate pass (sum of violation indicators + count/count_distinct
  for uniqueness); referential checks are LEFT ANTI join counts against
  the parent key set (bucketable/broadcastable by Catalyst). Output is
  a ≤ |checks|-row relation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _qlabel(name: str) -> str:
    """SQL string literal of a column name (quotes doubled)."""
    return "'" + name.replace("'", "''") + "'"


def column_profile(
    df: DataFrame, cols: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """Per-column stats: rows, nulls, distinct, min/max.

    Returns (col_name, n_rows, n_null, n_distinct, min_s, max_s) with one
    row per profiled column. min/max render as strings so the relation is
    type-uniform; doubles route through DECIMAL(18,2) for stable text.

    Plan shape (deliberate — the naive single agg with multi-distinct +
    min(string) compiles to Expand(rows × cols) feeding three SortAggregate
    levels, because a string min/max buffer is not Tungsten-mutable and
    one such function demotes the WHOLE aggregate; measured 3 s vs 0.4 s
    at sf0.1):
    - pass 1: one HashAggregate scan — counts, native min/max (numeric /
      timestamp buffers are mutable), HLL distincts when ``approx``;
    - pass 2 (exact only): melt to (col, full-precision value-string) →
      groupBy-dedup (hash, partial map-side) → per-column distinct count
      + lexicographic min/max over the ALREADY-DEDUPED values — the only
      SortAggregate left sees |distinct values| rows, not rows × cols;
    - broadcast-join the two ≤|cols|-row sides.
    String columns take min/max from pass 2 (lexicographic IS their
    semantics); other types from pass 1's native aggregates. Distinct
    keys use full-precision CAST(x AS STRING) (1:1 for doubles up to the
    -0.0/NaN corner Spark's count_distinct also normalizes away).

    ``approx=True`` drops pass 2's distinct work entirely (HLL partials in
    pass 1; melt shrinks to string columns only) — the 100 TB default
    where ±2% on distinct counts is fine.
    """
    names = cols or df.columns
    dtypes = dict(df.dtypes)
    str_cols = [c for c in names if dtypes[c] == "string"]
    melt_cols = str_cols if approx else names

    # Hostile-name safety: quotes/backticks/dots are legal in column
    # names but every by-name accessor (F.col AND df[...]) PARSES its
    # argument. toDF renames POSITIONALLY — no resolution — so all
    # internal work runs on __c{i} names and the user's names appear
    # only as escaped string literals in the final col_name labels.
    all_cols = list(df.columns)
    safe_of = {c: f"__c{i}" for i, c in enumerate(all_cols)}
    sdf = df.toDF(*[safe_of[c] for c in all_cols])

    # ---- pass 1: single hash-aggregatable scan
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(names):
        col = F.col(safe_of[c])
        aggs.append(F.count(col).alias(f"__nn_{i}"))
        if approx:
            aggs.append(F.approx_count_distinct(col).alias(f"__nd_{i}"))
        if dtypes[c] != "string":
            aggs += [F.min(col).alias(f"__min_{i}"), F.max(col).alias(f"__max_{i}")]
    one = sdf.agg(*aggs)
    stack_args: list[str] = []
    for i, c in enumerate(names):
        nd = f"__nd_{i}" if approx else "CAST(NULL AS BIGINT)"
        if dtypes[c] == "string":
            mn = mx = "CAST(NULL AS STRING)"
        elif dtypes[c] in ("double", "float"):
            # DECIMAL(18,2) render: Java's Double.toString flips to
            # scientific notation where ANSI casts do not
            mn = f"cast(cast(__min_{i} as decimal(18,2)) as string)"
            mx = f"cast(cast(__max_{i} as decimal(18,2)) as string)"
        else:
            mn, mx = f"cast(__min_{i} as string)", f"cast(__max_{i} as string)"
        stack_args.append(f"{_qlabel(c)}, __nn_{i}, {nd}, {mn}, {mx}")
    base = one.selectExpr(
        "__n",
        f"stack({len(names)}, {', '.join(stack_args)}) as "
        "(col_name, __nn, __nd1, __min1, __max1)",
    )

    if melt_cols:
        # ---- pass 2: melt → hash dedup → tiny per-column aggregate
        melted = sdf.selectExpr(
            f"stack({len(melt_cols)}, "
            + ", ".join(
                f"{_qlabel(c)}, cast({safe_of[c]} as string)" for c in melt_cols
            )
            + ") as (col_name, v)"
        )
        deduped = melted.groupBy("col_name", "v").agg(F.count(F.lit(1)).alias("__c"))
        per_col = deduped.groupBy("col_name").agg(
            F.count("v").alias("__nd2"),
            F.min("v").alias("__min2"),
            F.max("v").alias("__max2"),
        )
        base = base.join(F.broadcast(per_col), "col_name", "left")
    else:
        base = base.select(
            "*",
            F.lit(None).cast("long").alias("__nd2"),
            F.lit(None).cast("string").alias("__min2"),
            F.lit(None).cast("string").alias("__max2"),
        )

    return base.select(
        "col_name",
        F.col("__n").cast("long").alias("n_rows"),
        (F.col("__n") - F.col("__nn")).cast("long").alias("n_null"),
        # final 0: exact mode on an EMPTY table has no melted rows, so the
        # per_col left join leaves both __nd inputs NULL — approx mode and
        # count-distinct semantics say 0, not NULL
        F.coalesce(F.col("__nd1"), F.col("__nd2"), F.lit(0))
        .cast("long")
        .alias("n_distinct"),
        F.coalesce(F.col("__min1"), F.col("__min2")).alias("min_s"),
        F.coalesce(F.col("__max1"), F.col("__max2")).alias("max_s"),
    )


def skew_profile(df: DataFrame, key: str, top_n: int = 10) -> DataFrame:
    """Hot-key diagnostics for a prospective join/groupBy key: the top-N
    keys by frequency with their share of all rows and their ratio to the
    mean key frequency (the number that predicts reducer skew — a
    skew_ratio of 50 means the hot key's reducer does 50× the average
    work, the signal to salt or let AQE split it).

    Plan: groupBy(key).count() partial-aggregates map-side (one shuffle of
    |keys| rows); totals come from re-aggregating the GROUPED relation
    (1 row, broadcast back via crossJoin); top-N is orderBy+limit →
    TakeOrderedAndProject, never a full sort.
    """
    counts = df.groupBy(F.col(key).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").alias("__total"), F.count(F.lit(1)).alias("__nkeys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key_value",
            "cnt",
            F.round(F.col("cnt") * 100.0 / F.col("__total"), 4).alias(
                "share_pct"
            ),
            # cast before multiplying: cnt × nkeys in long overflows once
            # both are ~1e9-scale (hot key on a 100 TB fact table)
            F.round(
                F.col("cnt").cast("double") * F.col("__nkeys") / F.col("__total"),
                4,
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("cnt"), "key_value")
        .limit(top_n)
    )


def not_null(col: str) -> tuple[str, Column]:
    return (f"not_null({col})", F.col(col).isNull().cast("long"))


def in_range(col: str, lo: float, hi: float) -> tuple[str, Column]:
    c = F.col(col)
    viol = ~((c >= F.lit(lo)) & (c <= F.lit(hi)))
    # NULL comparisons are NULL → treat missing as violating the range
    return (
        f"in_range({col},{lo},{hi})",
        F.coalesce(viol, F.lit(True)).cast("long"),
    )


def accepted_values(col: str, values: list[str]) -> tuple[str, Column]:
    viol = ~F.col(col).isin(values)
    return (
        f"accepted_values({col})",
        F.coalesce(viol, F.lit(True)).cast("long"),
    )


def matches_regex(col: str, pattern: str) -> tuple[str, Column]:
    viol = ~F.col(col).rlike(pattern)
    return (
        f"matches_regex({col})",
        F.coalesce(viol, F.lit(True)).cast("long"),
    )


def constraint_checks(
    df: DataFrame,
    row_checks: list[tuple[str, Column]],
    unique_cols: list[str] | None = None,
    referential: list[tuple[str, DataFrame, str]] | None = None,
) -> DataFrame:
    """Declarative validation suite → (check, n_violations, passed).

    - ``row_checks``: (name, violation-indicator Column) pairs from the
      helpers above; ALL of them fold into ONE aggregate scan (each is a
      sum of 0/1 longs — pure partial-aggregate, no Expand).
    - ``unique_cols``: uniqueness via count − count_distinct (adds the
      multi-distinct Expand only when requested).
    - ``referential``: (child_col, parent_df, parent_col) — orphan count
      via LEFT ANTI join on the parent key set (Catalyst broadcasts small
      parents; bucketed layouts co-locate big ones).

    Everything unions into one ≤ |checks|-row relation, so a scheduler
    can gate a pipeline on ``passed = false`` rows without collecting
    anything big.
    """
    aggs: list[Column] = []
    names: list[str] = []
    for name, viol in row_checks:
        # coalesce: sum over an EMPTY table is NULL, which would make
        # `passed` NULL instead of true
        aggs.append(
            F.coalesce(F.sum(viol), F.lit(0)).alias(f"__v{len(names)}")
        )
        names.append(name)
    for c in unique_cols or []:
        aggs.append(
            (F.count(F.col(c)) - F.count_distinct(F.col(c))).alias(
                f"__v{len(names)}"
            )
        )
        names.append(f"unique({c})")
    spark = df.sparkSession
    if names:
        one = df.agg(*aggs)
        # check names embed user column names — escape the literal
        stack = ", ".join(
            f"{_qlabel(name)}, __v{i}" for i, name in enumerate(names)
        )
        # 'check' is a reserved word in ANSI engines (DuckDB rejects it as
        # a bare alias) — check_name keeps the relation portable
        out = one.selectExpr(
            f"stack({len(names)}, {stack}) as (check_name, n_violations)"
        )
    else:
        # referential-only suite: stack(0, ...) is invalid SQL — start
        # from an empty relation of the right shape instead
        out = spark.createDataFrame(
            [], "check_name string, n_violations long"
        )
    for child_col, parent_df, parent_col in referential or []:
        orphans = (
            df.select(F.col(child_col))
            .filter(F.col(child_col).isNotNull())
            .join(
                parent_df.select(F.col(parent_col).alias(child_col)),
                child_col,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(
                F.lit(f"referential({child_col})").alias("check_name"),
                F.col("n_violations"),
            )
        )
        out = out.unionByName(orphans)
    return out.select(
        "check_name",
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def sequence_gaps(
    df: DataFrame, col: str, num_partitions: int | None = None
) -> DataFrame:
    """Completeness audit for a dense integer sequence (block heights,
    invoice numbers): every (prev_key, next_key) adjacency whose gap
    skips values — the indexer's "did we miss blocks?" check (the
    reference trusts its per-block loop + BlockHeight singleton;
    a lake-scale engine has to PROVE density).

    Scale shape — the global-lag twin of windows.ranked_global: dedup
    keys, repartitionByRange so key order is partition-contiguous,
    in-partition lag() (WindowExec partitioned by __pid, never global),
    then cross-boundary adjacencies from the ≤num_partitions per-
    partition (min, max) rows stitched with a lag over that TINY
    relation — the one intentionally single-partition window. Returns
    (prev_key, next_key, gap) for gap > 1; n_missing = gap - 1.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    keyed = df.select(F.col(col).cast("long").alias("k")).distinct()
    ranged = keyed.repartitionByRange(n, F.col("k")).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_in = Window.partitionBy("__pid").orderBy("k")
    in_part = (
        ranged.withColumn("prev_key", F.lag("k").over(w_in))
        .filter(F.col("prev_key").isNotNull())
        .select("prev_key", F.col("k").alias("next_key"))
    )
    bounds = ranged.groupBy("__pid").agg(
        F.min("k").alias("__lo"), F.max("k").alias("__hi")
    )
    w_b = Window.orderBy("__pid")  # ≤ num_partitions rows — bounded
    cross = (
        bounds.withColumn("prev_key", F.lag("__hi").over(w_b))
        .filter(F.col("prev_key").isNotNull())
        .select("prev_key", F.col("__lo").alias("next_key"))
    )
    return (
        in_part.unionByName(cross)
        .withColumn("gap", (F.col("next_key") - F.col("prev_key")).cast("long"))
        .filter(F.col("gap") > 1)
        .select("prev_key", "next_key", "gap")
    )


def winsorize_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group winsorization report: clip ``value_col`` to the group's
    exact [lo, hi] interpolated percentiles and compare the raw vs the
    winsorized sum — the standard outlier-robustness pass a feature
    pipeline runs before normalizing a skewed metric (the declarative
    twin of the reference's ad-hoc NULL/zero guards around USD totals,
    tasks.py:203-212).

    Scale design: two shuffles on the SAME group key — one exact
    percentile aggregate (per-group sort; at 100 TB swap for
    approx_percentile exactly as a_approx_percentile_bound documents),
    then the tiny bounds relation broadcasts back onto the fact scan for
    the clip + one re-aggregate. Sums fold DECIMAL(38,6) of the 6-dp
    rounded values, so they are order-independent and engine-exact;
    the output casts back to double.
    """
    v = F.col(value_col).cast("double")
    bounds = df.groupBy(group_col).agg(
        F.percentile(v, lo).alias("__lo"),
        F.percentile(v, hi).alias("__hi"),
    )
    clamped = F.least(F.greatest(v, F.col("__lo")), F.col("__hi"))
    dec = lambda c: F.round(c, round_dp).cast("decimal(38,6)")  # noqa: E731
    out = (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(v < F.col("__lo"), 1).otherwise(0)).alias("n_clipped_lo"),
            F.sum(F.when(v > F.col("__hi"), 1).otherwise(0)).alias("n_clipped_hi"),
            F.round(F.min("__lo"), round_dp).alias("lo_bound"),
            F.round(F.min("__hi"), round_dp).alias("hi_bound"),
            F.sum(dec(v)).cast("double").alias("sum_raw"),
            F.sum(dec(clamped)).cast("double").alias("sum_winsorized"),
        )
    )
    return out


def robust_anomalies(
    df: DataFrame,
    group_col: str,
    value_col: str,
    keep_cols: list[str],
    cutoff: float = 3.0,
    round_dp: int = 6,
) -> DataFrame:
    """Median/MAD outlier flags: rows whose robust z-score
    ``0.6745 * (v - median) / MAD`` exceeds ``cutoff`` in absolute
    value, per group. The heavy-tail-safe twin of ts_zscore_anomaly's
    rolling mean/std — a handful of extreme values cannot drag the
    baseline, because both the center (median) and the spread (MAD)
    are rank statistics.

    Scale design: two grouped percentile aggregates (median, then
    median of |v - median|) — each an exact per-group sort at gate
    scale with the documented approx_percentile swap at 100 TB — and
    both bounds relations broadcast back onto the fact scan; the flag
    pass itself is a narrow map. Groups with MAD = 0 (over half the
    values identical) emit no flags rather than dividing by zero.
    0.6745 ≈ Φ⁻¹(0.75) rescales MAD to σ-equivalents; the z is rounded
    to ``round_dp`` for engine-exact output."""
    v = F.col(value_col).cast("double")
    med = df.groupBy(group_col).agg(F.percentile(v, 0.5).alias("__med"))
    mad = (
        df.join(F.broadcast(med), group_col)
        .groupBy(group_col)
        .agg(
            F.percentile(F.abs(v - F.col("__med")), 0.5).alias("__mad"),
            F.min("__med").alias("__med"),
        )
    )
    z = F.round(F.lit(0.6745) * (v - F.col("__med")) / F.col("__mad"), round_dp)
    return (
        df.join(F.broadcast(mad), group_col)
        .filter(F.col("__mad") > 0)
        .withColumn("robust_z", z)
        .filter(F.abs(F.col("robust_z")) > cutoff)
        .select(group_col, *keep_cols, "robust_z")
    )


def psi_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ref_col: Column,
    n_bins: int = 10,
    floor_p: float = 1e-4,
    round_dp: int = 6,
) -> DataFrame:
    """Population Stability Index per group between a reference split
    (``ref_col`` true) and the current split: decile edges are fit on
    the REFERENCE rows only, both splits are binned against them, and

        PSI = Σ_bins (p_ref − p_cur) · ln(p_ref / p_cur)

    with proportions floored at ``floor_p`` (the standard zero-bin
    guard; a bin empty in BOTH splits contributes exactly 0, so the
    sum over observed (group, bin) rows is complete). PSI ≳ 0.2 is the
    conventional "retrain / investigate" drift alarm — the scheduled
    check a feature pipeline runs between a training snapshot and live
    traffic.

    Scale design: one exact-percentile aggregate over the reference
    rows only (per-group sort at gate scale; approx_percentile is the
    documented 100 TB swap), then the ≤|groups|-row edge relation
    broadcasts back onto the ONE full fact scan — bin assignment is
    ``size(filter(edges, e → v > e))``, pure codegen on a ≤(n_bins−1)
    array, no row blowup — and one (group, bin) re-aggregate whose
    state is ≤ |groups|·n_bins. Determinism: edges are pinned with the
    portable 6-dp floor-rounding before any comparison (crushing
    percentile ulp jitter); p_ref/p_cur are exact long ratios; each
    PSI term is rounded to ``round_dp`` and folded as DECIMAL(28,6),
    so the per-group sum is order-independent and engine-exact."""
    v = F.col(value_col).cast("double")
    pow10 = float(10**round_dp)
    pin = lambda c: F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)  # noqa: E731
    qs = [i / n_bins for i in range(1, n_bins)]
    edges = (
        df.filter(ref_col)
        .groupBy(group_col)
        .agg(F.percentile(v, F.array(*[F.lit(q) for q in qs])).alias("__raw"))
        .select(
            group_col,
            F.transform(F.col("__raw"), lambda e: pin(e)).alias("__edges"),
        )
    )
    binned = (
        df.join(F.broadcast(edges), group_col)
        .select(
            group_col,
            ref_col.alias("__ref"),
            F.size(F.filter(F.col("__edges"), lambda e: v > e)).alias("__bin"),
        )
        .groupBy(group_col, "__bin")
        .agg(
            F.count(F.when(F.col("__ref"), 1)).alias("__ca"),
            F.count(F.when(~F.col("__ref"), 1)).alias("__cb"),
        )
    )
    tot = binned.groupBy(group_col).agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    pa = F.greatest(F.col("__ca") / F.col("__na"), F.lit(floor_p))
    pb = F.greatest(F.col("__cb") / F.col("__nb"), F.lit(floor_p))
    term = F.round((pa - pb) * F.log(pa / pb), round_dp).cast(
        f"decimal(28,{round_dp})"
    )
    return (
        binned.join(F.broadcast(tot), group_col)
        .groupBy(group_col)
        .agg(
            F.sum(term).cast("double").alias("psi"),
            F.min("__na").cast("long").alias("n_ref"),
            F.min("__nb").cast("long").alias("n_cur"),
        )
        .withColumn("drifted", F.col("psi") > F.lit(0.2))
    )


def benford_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
    alarm_mad: float = 0.015,
) -> DataFrame:
    """Benford first-significant-digit conformity per group: observed
    digit frequencies vs the Benford expectation p(d) = log10(1 + 1/d),
    summarized as the chi-square statistic and Nigrini's mean absolute
    deviation (MAD), with ``nonconforming = mad > alarm_mad`` (0.015 is
    the published "nonconformity" line for first digits). The classic
    fabricated-amounts / broken-feed screen an audit or data-quality
    pass runs over any naturally-scaled amount column.

    First digit extraction is STRING-based (first [1-9] in the value's
    canonical rendering) rather than log10/pow arithmetic: a floor of
    log10(v) half an ulp low would misclassify exact powers of ten,
    while the leading mantissa digit is rendering-stable in both plain
    and scientific notation on every engine. Zero/NULL values carry no
    signal and are excluded.

    Scale design: ONE fact scan → (group, digit) counts (map-side
    combine, state ≤ |groups|·9), a broadcast join against the 9-row
    digit spine so absent digits still contribute their full expected
    mass, and a ≤|groups|·9-row re-aggregate. Determinism: each
    chi-square / MAD term is pinned to ``round_dp`` dp (portable floor
    rounding) and folded as DECIMAL(28,6), so the per-group sums are
    order-independent and engine-exact."""
    pow10 = float(10**round_dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    digit = F.regexp_extract(F.col(value_col).cast("string"), "[1-9]", 0)
    counts = (
        df.filter(F.col(value_col).isNotNull() & (digit != ""))
        .groupBy(F.col(group_col), digit.cast("int").alias("__d"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    spine = (
        counts.select(group_col)
        .distinct()
        .crossJoin(
            F.broadcast(
                counts.sparkSession.range(1, 10).select(
                    F.col("id").cast("int").alias("__d")
                )
            )
        )
    )
    full = (
        spine.join(counts, [group_col, "__d"], "left")
        .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)))
        .withColumn(
            "__n", F.sum("__c").over(Window.partitionBy(group_col))
        )
    )
    p_exp = _pin(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("__d")))
    p_obs = _pin(F.col("__c") / F.col("__n"))
    chi_term = _pin(
        F.col("__n") * (p_obs - p_exp) * (p_obs - p_exp) / p_exp
    ).cast(f"decimal(28,{round_dp})")
    mad_term = _pin(F.abs(p_obs - p_exp) / F.lit(9.0)).cast(
        f"decimal(28,{round_dp})"
    )
    return (
        full.groupBy(group_col)
        .agg(
            F.min("__n").cast("long").alias("n"),
            F.sum(chi_term).cast("double").alias("chi2"),
            F.sum(mad_term).cast("double").alias("mad"),
        )
        .withColumn("nonconforming", F.col("mad") > F.lit(alarm_mad))
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    split_col: Column,
    value_col: str,
    alpha_c: float = 1.358,
    dp: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test per group: the supremum gap
    between the two splits' empirical CDFs, with the large-sample
    rejection line c(α)·sqrt((n_a+n_b)/(n_a·n_b)) (c = 1.358 is
    α = 0.05). The distribution-shape drift check that complements
    [psi_drift]'s binned score — KS needs no bin edges and reacts to
    ANY CDF divergence, not just decile mass moves.

    Scale design: collapse to one row per (group, 3-dp value) FIRST
    (map-side combined; state = distinct values, not rows), then ONE
    running-sum window per group over the collapsed relation computes
    both ECDFs, and a max() re-aggregate takes the supremum. The
    window partition is value-domain-sized, the same contract as
    weighted_median.

    Cross-engine determinism: ECDF steps are exact long counts; each
    gap |F_a − F_b| is evaluated in double and pinned to ``dp`` dp
    BEFORE the max, so the supremum row can't flip on float dust;
    the threshold is pinned the same way. Groups missing either split
    entirely are dropped (no CDF to compare)."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    vd = F.round(F.col(value_col).cast("double"), 3).cast("decimal(18,3)")
    per_value = (
        df.select(F.col(group_col), split_col.alias("__a"), vd.alias("__v"))
        .groupBy(group_col, "__v")
        .agg(
            F.count(F.when(F.col("__a"), 1)).alias("__ca"),
            F.count(F.when(~F.col("__a"), 1)).alias("__cb"),
        )
    )
    w_run = (
        Window.partitionBy(group_col)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    gap = _pin(
        F.abs(
            F.sum("__ca").over(w_run) / F.col("__na")
            - F.sum("__cb").over(w_run) / F.col("__nb")
        )
    )
    stepped = per_value.select(
        F.col(group_col),
        F.sum("__ca").over(w_all).alias("__na"),
        F.sum("__cb").over(w_all).alias("__nb"),
        "__ca",
        "__cb",
        "__v",
    ).select(
        group_col,
        "__na",
        "__nb",
        gap.alias("__gap"),
    )
    thr = _pin(
        F.lit(alpha_c)
        * F.sqrt(
            (F.col("n_a") + F.col("n_b")) / (F.col("n_a") * F.col("n_b"))
        )
    )
    return (
        stepped.filter((F.col("__na") > 0) & (F.col("__nb") > 0))
        .groupBy(group_col)
        .agg(
            F.min("__na").cast("long").alias("n_a"),
            F.min("__nb").cast("long").alias("n_b"),
            F.max("__gap").alias("ks_stat"),
        )
        .withColumn("threshold", thr)
        .withColumn("significant", F.col("ks_stat") > F.col("threshold"))
    )


def table_fingerprint(
    df: DataFrame,
    row_str: Column,
    n_buckets: int = 32,
) -> DataFrame:
    """Anti-entropy table fingerprint: collapse an arbitrarily large
    table to ``n_buckets`` order-independent per-bucket signatures, so
    two replicas (or a table before/after a migration) can be diffed by
    exchanging ``n_buckets`` rows instead of re-reading 100 TB — the
    Merkle-bucket handshake storage systems use for replica repair,
    here as a relational operator.

    ``row_str`` is the caller's CANONICAL row rendering (stable string
    from exact-typed columns — integer cents, epoch days; never raw
    doubles). Each row hashes once (md5); the first 8 hex digits pick
    the bucket, digits 9-23 (60 bits) become the row's signature
    contribution. Per bucket:

    - ``n_rows``   — count,
    - ``xor_sig``  — bit_xor of the 60-bit row hashes (order- and
      duplicate-pair-sensitive in opposite ways to the sum, so the two
      together catch what either alone misses),
    - ``sum_sig``  — sum of row hashes mod 2^61−1, folded as
      DECIMAL(38,0) so the modular reduction is exact at any row count.

    One scan, one ``n_buckets``-ary shuffle of pre-aggregated partials
    (map-side combine: every executor emits ≤ n_buckets rows); the
    mismatching-bucket set from a replica diff then scopes the
    re-read to 1/n_buckets of the table per bad bucket. All md5/mod
    arithmetic is engine-portable (conv(hex) == 0x-cast)."""
    h = F.md5(row_str)
    bucket = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets
    ).alias("bucket")
    sig = F.conv(F.substring(h, 9, 15), 16, 10).cast("long")
    mersenne = 2305843009213693951  # 2^61 - 1
    return (
        df.select(bucket, sig.alias("__sig"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(__sig)").alias("xor_sig"),
            (
                F.sum(F.col("__sig").cast("decimal(38,0)"))
                % F.lit(mersenne)
            )
            .cast("long")
            .alias("sum_sig"),
        )
    )


def monotonic_violations(
    df: DataFrame,
    part_col: str,
    seq_col: str,
    ts_col: str,
) -> DataFrame:
    """Out-of-order delivery metric: per partition, how many events
    arrive with a TIMESTAMP older than the previous event in SEQUENCE
    order — the "how late is my stream" readout that sizes watermarks
    (a violation rate near zero justifies a tight watermark; the max
    regression bounds the allowed lateness). One lag() over
    per-partition windows; integer µs everywhere.

    Output per partition: n_events, n_violations, max_regression
    (largest backwards ts jump, 0 if none)."""
    w = Window.partitionBy(part_col).orderBy(seq_col)
    prev_ts = F.lag(ts_col).over(w)
    reg = F.when(
        prev_ts.isNotNull() & (F.col(ts_col) < prev_ts),
        prev_ts - F.col(ts_col),
    ).otherwise(F.lit(0))
    return (
        df.select(F.col(part_col), F.col(seq_col), F.col(ts_col))
        .withColumn("__reg", reg)
        .groupBy(part_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum((F.col("__reg") > 0).cast("long"))
            .cast("long")
            .alias("n_violations"),
            F.max("__reg").cast("long").alias("max_regression"),
        )
    )
