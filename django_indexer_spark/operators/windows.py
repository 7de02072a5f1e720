"""Window operators — SURVEY.md §2.5 (W1-W3).

The reference's two window-shaped computations (latest price per token,
nearest price in ±24 h) plus the leaderboard rank it materializes by sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def top1_per_group(
    df: DataFrame, part_by: list[str], order_by: list, keep_ties: bool = False
) -> DataFrame:
    """W1 — latest row per group (tokens/models.py:56-57
    order_by('-timestamp').first()). row_number for a single winner;
    rank() if callers want ties."""
    fn = F.rank() if keep_ties else F.row_number()
    w = Window.partitionBy(*part_by).orderBy(*order_by)
    return df.withColumn("__rn", fn.over(w)).filter(F.col("__rn") == 1).drop("__rn")


def ranked(df: DataFrame, order_by: list, alias: str = "rank", dense: bool = False) -> DataFrame:
    """W3 — leaderboard rank (accounts/api.py:85-88 materializes by sort;
    we expose the explicit rank column variant).

    Scale note: an un-partitioned window is a single-reducer sort over the
    WHOLE input — only use when the input is already a bounded aggregate.
    For "rank the top of a big table" use ``ranked_topk``; for full-table
    ranking use ``ranked_global`` (range-partitioned two-pass rank).
    """
    fn = F.dense_rank() if dense else F.rank()
    return df.withColumn(alias, fn.over(Window.orderBy(*order_by)))


def ranked_global(
    df: DataFrame,
    order_by: list,
    alias: str = "rank",
    num_partitions: int | None = None,
    dense: bool = False,
    key_cols: list | None = None,
) -> DataFrame:
    """W3 at full-table scale: global rank with NO single-partition window
    over the input — the two-pass range-partitioned form ``ranked``'s
    docstring promises.

    Pass 1 (logical): ``repartitionByRange`` on the ordering keys. The
    range partitioner assigns equal keys to one partition, so every tie
    group is partition-local and a per-partition ``rank()`` is globally
    consistent once offset.

    Pass 2 (same physical plan): per-partition counts (rank: row count;
    dense: distinct-key count) feed a running-sum window over ≤
    ``num_partitions`` rows — the ONE intentionally tiny single-partition
    window — whose prefix offsets broadcast-join back on partition id.
    Both consumers sit in one plan, so Catalyst's ReuseExchange computes
    the range shuffle once; no driver-side collect, no persist.

    Global rank = partition-prefix offset + local rank. Deterministic
    regardless of where the sampler places range bounds. Skew caveat: one
    extremely hot ordering key still lands in one partition — same bound
    as any rank-with-ties semantics (a tie group shares a reducer).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    if dense:
        # count_distinct needs VALUE expressions; order_by entries may be
        # SortOrder (F.desc(...)), which has no value codegen — dense
        # callers whose order uses desc/asc wrappers pass the bare key
        # expressions via key_cols (direction is irrelevant to
        # distinctness).
        keys = [
            F.col(c) if isinstance(c, str) else c for c in (key_cols or order_by)
        ]
        per_part = F.count_distinct(F.struct(*keys))
    else:
        per_part = F.count(F.lit(1))
    sizes = ranged.groupBy("__pid").agg(per_part.alias("__n"))
    w_off = (
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "__pid",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    w_local = Window.partitionBy("__pid").orderBy(*cols)
    fn = F.dense_rank() if dense else F.rank()
    return (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn(alias, (F.col("__off") + fn.over(w_local)).cast("long"))
        .drop("__pid", "__off")
    )


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Gap-based sessionization: within each user's timeline (ordered by
    ``ts_col`` then ``tiebreak_cols`` for a total order), a new session
    starts whenever the gap to the previous event exceeds ``gap`` (same
    units as ts_col). Adds ``session_idx`` (1-based per user) — the batch
    twin of streaming/sessions.py's stateful sessionizer, and the classic
    "sessions from a 100 TB clickstream" shape.

    Boundary semantics: this operator is GAP-INCLUSIVE — an interval of
    EXACTLY ``gap`` stays in-session (break at ``> gap``). The streaming
    twin (streaming/sessions.py) is gap-EXCLUSIVE (break at ``>= gap``),
    matching Spark's native session_window convention. Both gates'
    oracles mirror their own operator; callers comparing the two paths
    on data containing exact-gap intervals must account for the tie
    (round-8 ADVICE pinned ts_top_paths' oracle to this rule).

    Scale: both windows partition by the user — per-user data is bounded,
    keys are many and uniform, so this is one shuffle on user_col and a
    per-partition sort; no global sort anywhere. The two windows share
    one partitioning, so Catalyst plans a single Exchange+Sort."""
    tiebreak_cols = tiebreak_cols or []
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(user_col).orderBy(*order)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev_ts.isNull() | ((F.col(ts_col) - prev_ts) > gap), 1
    ).otherwise(0)
    run = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("session_idx", F.sum(is_new).over(run).cast("long"))


def ranked_topk(
    df: DataFrame, order_by: list, k: int, alias: str = "rank", dense: bool = False
) -> DataFrame:
    """W3, the 100 TB form: rank only the top-``k`` slice.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — each task
    keeps its local top-k and only k rows ever reach the driver-side merge,
    so nothing resembling a full sort or single-reducer shuffle happens on
    the big input. The un-partitioned rank window then runs over AT MOST k
    rows (bounded, one tiny partition by construction). Equals
    ``ranked(df, order_by).orderBy(...).limit(k)`` whenever all order-by
    ties fit inside the slice."""
    head = df.orderBy(*order_by).limit(k)
    fn = F.dense_rank() if dense else F.rank()
    return head.withColumn(alias, fn.over(Window.orderBy(*order_by)))


def scd2_build(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """SCD-2 interval build: each key's change rows become validity
    intervals — valid_from = the row's own timestamp, valid_to = the next
    row's (NULL ⇒ current). lead() over a key-partitioned window: one
    shuffle on the key, no global window. The materialized form of the
    reference's TokenHistoricalPrice valid-until-next-price semantics
    (tokens/models.py:120-152) that the as-of join (J6) consumes."""
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def scd2_merge(
    current: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Incrementally fold a change batch into an SCD-2 interval table.

    Work is O(batch + touched keys' history), never a full rebuild: keys
    absent from the batch pass through UNTOUCHED (anti-join); for touched
    keys, their existing rows (intervals stripped back to change rows)
    union the batch, keep ONE row per (key, ts, tiebreaks) with the batch
    copy winning on attribute conflicts (a correction; deterministic —
    see the window below), and rebuild via scd2_build. Replaying the same
    batch is a no-op, and the incremental invariant holds (tests):
    merge(build(A), B) == build(A ∪ B).

    Same division of labor as sources/silver.merge_batch's touched-bucket
    rule, applied to interval state instead of row state.
    """
    val_cols = [
        c
        for c in current.columns
        if c not in ("valid_from", "valid_to", "is_current")
    ]
    batch_keys = batch.select(*key_cols).distinct()
    untouched = current.join(batch_keys, key_cols, "left_anti")
    touched_rows = (
        current.join(batch_keys, key_cols, "left_semi").select(*val_cols)
    )
    dedup_keys = key_cols + [ts_col] + list(tiebreak_cols or [])
    # Deterministic conflict rule: when the batch carries a row for an
    # EXISTING (key, ts, tiebreaks) with different attribute values (a
    # correction), the batch row wins — dropDuplicates alone would keep
    # whichever copy a partition scan saw first, so two runs of the same
    # merge could disagree. Residual equal-priority ties (duplicate rows
    # WITHIN one source differing in attributes) break on the attribute
    # struct itself, keeping the pick total.
    other_cols = [c for c in val_cols if c not in dedup_keys]
    tagged = touched_rows.withColumn("__src", F.lit(0)).unionByName(
        batch.select(*val_cols).withColumn("__src", F.lit(1))
    )
    w_pick = Window.partitionBy(*dedup_keys).orderBy(
        F.desc("__src"), *[F.desc(c) for c in other_cols]
    )
    merged_rows = (
        tagged.withColumn("__rn", F.row_number().over(w_pick))
        .filter(F.col("__rn") == 1)
        .select(*val_cols)
    )
    rebuilt = scd2_build(merged_rows, key_cols, ts_col, tiebreak_cols)
    return untouched.unionByName(rebuilt)


def scd2_asof(intervals: DataFrame, at_ts) -> DataFrame:
    """Point-in-time snapshot of an SCD-2 table: the rows whose interval
    covers ``at_ts`` (valid_from <= T < valid_to, open interval = +inf).
    A pure filter — partition/file pruning applies when the interval
    table is stored partitioned on date(valid_from)."""
    t = at_ts if isinstance(at_ts, Column) else F.lit(at_ts)
    return intervals.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )


def seasonal_decompose(
    series: DataFrame,
    bucket_col: str,
    value_col: str,
    period: int = 24,
    half_window: int = 12,
    dp: int = 6,
) -> DataFrame:
    """Classical additive seasonal decomposition of a regular series:
    value = trend + seasonal + residual, distributed as three window/agg
    passes (the moving-average decomposition every monitoring stack runs
    over its rollups — statsmodels' seasonal_decompose, declaratively).

    ``series`` is one row per bucket: (bucket_col ascending long, e.g.
    the hour index, plus exact DECIMAL ``value_col``). Steps:
    - trend: centered moving average over ±half_window ROWS (edge
      buckets average the available rows — same rule both engines);
    - seasonal: mean of (value − trend) per phase (bucket % period),
      centered so phases with more buckets don't bias the residual;
    - residual: value − trend − seasonal.

    Cross-engine determinism: window sums/counts run on DECIMAL (order-
    independent); each division is done in DOUBLE and immediately pinned
    with the portable floor(x·10^dp + 0.5)/10^dp rounding (pure IEEE
    ops — see similarity.lloyd_means), so no order-dependent double
    accumulation ever happens. Scale: a single series fits one ROWS
    window over the BUCKET table (rows = time range / period — millions
    at most, not corpus-sized); multi-series callers partition the
    windows by series key and everything shards by key."""
    pow10 = float(10**dp)

    def _r(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    w = (
        Window.orderBy(bucket_col)
        .rowsBetween(-half_window, half_window)
    )
    trended = series.withColumn(
        "trend",
        _r(
            F.sum(F.col(value_col)).over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ),
    ).withColumn(
        # detrended, portable-rounded FIRST (the nearest-double of k/10^dp
        # casts to the same decimal on both engines; an arbitrary double
        # near a half boundary might not), then pinned to exact decimal so
        # the per-phase mean sums without double-order sensitivity
        "__detr",
        _r(F.col(value_col).cast("double") - F.col("trend")).cast(
            f"decimal(28,{dp})"
        ),
    ).withColumn("__phase", F.pmod(F.col(bucket_col), F.lit(period)))
    phase = trended.groupBy("__phase").agg(
        _r(
            F.sum("__detr").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("__phase_mean")
    )
    # center the phase means (mean of means → seasonal sums to ~0)
    grand = phase.agg(
        _r(
            F.sum(F.col("__phase_mean").cast(f"decimal(28,{dp})")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__grand")
    )
    seasonal = phase.crossJoin(F.broadcast(grand)).select(
        "__phase", _r(F.col("__phase_mean") - F.col("__grand")).alias("seasonal")
    )
    out = trended.join(F.broadcast(seasonal), "__phase").select(
        bucket_col,
        F.col(value_col).cast("double").alias("value"),
        "trend",
        "seasonal",
        _r(F.col(value_col).cast("double") - F.col("trend") - F.col("seasonal")).alias(
            "residual"
        ),
    )
    return out


def touch_attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    type_col: str,
    value_col: str,
    touch_types: list[str],
    conversion_type: str,
    lookback: int,
) -> DataFrame:
    """First/last-touch marketing attribution: for every conversion
    event, the earliest and the latest touch event of the same user
    inside the ``lookback`` window strictly before the conversion.

    Extension class: the reference records activities and reads them
    back as flat lists (activities/models.py:20-75); attribution is the
    standard analytical question asked of exactly that event log.

    Scale design: ONE user-partitioned shuffle. Touches and conversions
    ride the same RANGE-frame window pass — each row carries a
    lexicographically ordered key ``lpad(ts)||lpad(id)||type`` (NULL for
    non-touch rows, so min/max ignore them), and the first/last touch
    inside ``(ts - lookback, ts)`` fall out of min/max over
    ``rangeBetween(-lookback, -1)``. No self-join, no per-conversion
    probe; per-user window state is bounded by the lookback horizon.
    The string key round-trips exactly on any engine (fixed-width
    zero-padded decimal), which is what makes the gate hash-checkable.

    ``ts_col`` must be a monotonic integer timestamp (e.g. µs since
    epoch) — RANGE frames need numeric order, and the key padding
    assumes non-negative values.
    """
    key = F.when(
        F.col(type_col).isin(*touch_types),
        F.concat(
            F.lpad(F.col(ts_col).cast("string"), 20, "0"),
            F.lpad(F.col(id_col).cast("string"), 10, "0"),
            F.col(type_col),
        ),
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col)
        .rangeBetween(-int(lookback), -1)
    )
    marked = events.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(id_col),
        F.col(type_col),
        F.col(value_col),
        F.min(key).over(w).alias("__first"),
        F.max(key).over(w).alias("__last"),
    )

    def _decode(src: str, what: str) -> Column:
        if what == "ts":
            return F.substring(src, 1, 20).cast("long")
        if what == "id":
            return F.substring(src, 21, 10).cast("long")
        return F.col(src).substr(F.lit(31), F.length(F.col(src)) - 30)

    return (
        marked.filter(
            (F.col(type_col) == conversion_type) & F.col("__first").isNotNull()
        )
        .select(
            F.col(user_col),
            F.col(id_col).alias("conversion_id"),
            F.col(ts_col).alias("conversion_ts"),
            F.col(value_col).cast("double").alias("conversion_value"),
            _decode("__first", "id").alias("first_touch_id"),
            _decode("__first", "type").alias("first_touch_type"),
            _decode("__last", "id").alias("last_touch_id"),
            _decode("__last", "type").alias("last_touch_type"),
            (F.col(ts_col) - _decode("__last", "ts")).alias("last_touch_gap"),
        )
    )


def event_transitions(
    events: DataFrame,
    part_col: str,
    ts_col: str,
    tiebreak_col: str,
    type_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix over an event log: for every
    consecutive (prev_type → next_type) step inside a partition (user),
    the step count and the row-normalized transition probability
    ``p = n / Σ_next n``. The "what do users do next" readout of the
    reference's per-account activity feed (activities/models.py:20-75
    stores the sequence; this summarizes its dynamics) and the input to
    next-event prediction / funnel-drop-off analysis.

    Scale design: ONE user-partitioned window pass (lag over
    (ts, tiebreak) — the same deterministic total order every sequence
    gate here uses), then a (prev, next) groupBy whose state is the
    |types|² matrix, then a window over that tiny matrix for the row
    normalization — nothing downstream of the first shuffle scales with
    the event count. ``p`` is an exact long/long division rounded to
    ``round_dp``, so it is engine-exact."""
    w = Window.partitionBy(part_col).orderBy(ts_col, tiebreak_col)
    steps = (
        events.select(
            F.col(part_col),
            F.col(ts_col),
            F.col(tiebreak_col),
            F.col(type_col).alias("next_type"),
        )
        .withColumn("prev_type", F.lag("next_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = steps.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_row = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_row).cast("double"),
            round_dp,
        ).alias("p"),
    )


def cusum_changepoints(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    tiebreak_col: str,
    k_sigmas: float = 0.5,
    h_sigmas: float = 5.0,
    dp: int = 6,
) -> DataFrame:
    """Two-sided CUSUM mean-shift detector per group (Page's test):
    emit the rows where either one-sided cumulative sum exceeds the
    alarm threshold h·sigma, with slack k·sigma — the standard SPC
    changepoint screen a metrics pipeline runs over an ordered series
    to catch a level shift that per-point z-scores miss.

    The recursion S_i = max(0, S_{i-1} + d_i) is expressed in closed
    form as TWO stock window passes — running sum and running min —
    via  S_i = cum_i − min(0, min_{j≤i} cum_j),  so the whole detector
    is declarative: no stateful UDF, no per-row Python.

    Cross-engine determinism: the group baseline (mean, sigma) comes
    from exact DECIMAL folds of v and v² with each derived scalar
    immediately pinned to ``dp`` dp (portable floor rounding, pure
    IEEE ops); each per-row deviation d_i is pinned to ``dp`` dp and
    cast DECIMAL before the running fold, so cum/min/S are exact
    decimals — association order can never flip an alarm row (a
    segment-tree window sum would reassociate a double fold).

    Scale design: one grouped aggregate for the baseline (broadcast
    back), then one window partition per group — the series length per
    group must fit a partition, the same contract as every ordered-
    series operator here (sessionize, seasonal_decompose); longer
    series pre-bucket to rollups first. Alarm rows only are emitted."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    vd = F.round(F.col(value_col).cast("double"), 3).cast("decimal(18,3)")
    mu = F.col("__s").cast("double") / F.col("__n")
    base = (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(vd).alias("__s"),
            F.sum((vd * vd).cast("decimal(38,6)")).alias("__q"),
        )
        .filter(F.col("__n") >= 2)
        .select(
            group_col,
            _pin(mu).alias("__mean"),
            _pin(
                F.sqrt(
                    (F.col("__q").cast("double") - F.col("__n") * (mu * mu))
                    / (F.col("__n") - 1)
                )
            ).alias("__sigma"),
        )
        .filter(F.col("__sigma") > 0)
    )
    slack = F.col("__sigma") * F.lit(k_sigmas)
    # Precision budget keeps EVERY engine in exact decimals end-to-end:
    # terms at (18,6) sum to (28,6) windows, and (28,6) − least((28,6))
    # fits (29,6) — a (38,6) anywhere would force DuckDB's least/minus
    # to spill to DOUBLE (no headroom left) and reintroduce float dust.
    d_pos = _pin(vd.cast("double") - F.col("__mean") - slack).cast(
        f"decimal(18,{dp})"
    )
    d_neg = _pin(F.col("__mean") - vd.cast("double") - slack).cast(
        f"decimal(18,{dp})"
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zero = F.lit(0).cast(f"decimal(28,{dp})")
    scored = (
        df.join(F.broadcast(base), group_col)
        .select(
            F.col(group_col),
            F.col(order_col),
            F.col(tiebreak_col),
            vd.cast("double").alias("value"),
            F.col("__sigma"),
            F.sum(d_pos).over(w).cast(f"decimal(28,{dp})").alias("__cp"),
            F.sum(d_neg).over(w).cast(f"decimal(28,{dp})").alias("__cn"),
        )
        .select(
            group_col,
            order_col,
            tiebreak_col,
            "value",
            "__sigma",
            # min(0, running-min) via CASE, not least(): DuckDB's least()
            # promotes any decimal pair to DOUBLE, and the oracle twin
            # must stay exact-decimal through the same ops
            (
                F.col("__cp")
                - F.when(F.min("__cp").over(w) < 0, F.min("__cp").over(w)).otherwise(zero)
            ).alias("__sp"),
            (
                F.col("__cn")
                - F.when(F.min("__cn").over(w) < 0, F.min("__cn").over(w)).otherwise(zero)
            ).alias("__sn"),
        )
    )
    h = F.col("__sigma") * F.lit(h_sigmas)
    return (
        scored.filter(
            (F.col("__sp").cast("double") > h) | (F.col("__sn").cast("double") > h)
        )
        .select(
            group_col,
            order_col,
            tiebreak_col,
            "value",
            F.col("__sp").cast("double").alias("cusum_pos"),
            F.col("__sn").cast("double").alias("cusum_neg"),
        )
    )


def autocorrelation(
    series: DataFrame,
    group_col: str,
    bucket_col: str,
    value_col: str,
    max_lag: int = 6,
    dp: int = 6,
) -> DataFrame:
    """Sample autocorrelation function per series at lags 1..max_lag:
    r_k = Σ(x_t − x̄)(x_{t−k} − x̄) / Σ(x_t − x̄)², the standard
    seasonality / persistence readout over a rollup series (a daily
    period shows as a spike at the matching lag).

    ``series`` is one row per (group, bucket): lags are ROW-based over
    ascending ``bucket_col``, so a gap in the bucket index pairs
    across it — pre-fill gaps (gap_fill) if calendar-true lags matter.

    Scale design: ONE window pass per group emits all max_lag lagged
    columns (a single sort, not one per lag), a stack() unpivot turns
    them into (lag, pair) rows with zero shuffle, and one (group, lag)
    re-aggregate folds the products. Series length per group must fit
    a partition — the rollup-series contract shared with
    seasonal_decompose.

    Cross-engine determinism: x̄ comes from an exact DECIMAL fold
    pinned to ``dp`` dp; every cross-product term and the variance
    term are pinned and folded as DECIMAL(38,6); the final ratio is
    pinned double. The lag-0 variance denominator uses the FULL
    series, so r_k is comparable across lags; constant series
    (zero variance) emit no rows."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    vd = F.col(value_col).cast("decimal(18,2)")
    mean = (
        series.groupBy(group_col)
        .agg(F.sum(vd).alias("__s"), F.count(F.lit(1)).alias("__n"))
        .select(
            group_col,
            _pin(F.col("__s").cast("double") / F.col("__n")).alias("__mean"),
        )
    )
    w = Window.partitionBy(group_col).orderBy(bucket_col)
    lagged = series.join(F.broadcast(mean), group_col).select(
        F.col(group_col),
        (vd.cast("double") - F.col("__mean")).alias("__d0"),
        *[
            (F.lag(vd, k).over(w).cast("double") - F.col("__mean")).alias(
                f"__d{k}"
            )
            for k in range(1, max_lag + 1)
        ],
    )
    # unpivot to (lag, centered pair product) — stack is zero-shuffle
    pairs = lagged.selectExpr(
        group_col,
        "__d0",
        f"stack({max_lag}, "
        + ", ".join(f"{k}, __d{k}" for k in range(1, max_lag + 1))
        + ") as (lag, __dk)",
    )
    num_t = _pin(F.col("__d0") * F.col("__dk")).cast(f"decimal(38,{dp})")
    den_t = _pin(F.col("__d0") * F.col("__d0")).cast(f"decimal(38,{dp})")
    num = pairs.filter(F.col("__dk").isNotNull()).groupBy(
        group_col, "lag"
    ).agg(F.sum(num_t).alias("__num"), F.count(F.lit(1)).alias("n_pairs"))
    den = (
        lagged.groupBy(group_col)
        .agg(F.sum(den_t).alias("__den"))
        .filter(F.col("__den") > 0)
    )
    return (
        num.join(F.broadcast(den), group_col)
        .select(
            group_col,
            F.col("lag").cast("int").alias("lag"),
            _pin(
                F.col("__num").cast("double") / F.col("__den").cast("double")
            ).alias("acf"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
        )
    )


def kaplan_meier(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    observed_col: str,
    dp: int = 6,
) -> DataFrame:
    """Kaplan–Meier product-limit survival curve per group, with
    right-censoring: S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over event times,
    where censored subjects leave the risk set without an event — the
    churn/retention estimator that plain cohort counting gets wrong
    the moment observation windows differ.

    ``df`` is one row per subject: (group, integer duration, observed
    flag — true means the event happened at ``duration``, false means
    censored then). The product is computed as exp(Σ ln(1 − dᵢ/nᵢ)):
    each ln term is pinned ``dp`` dp and folded as an exact DECIMAL
    running sum, so the cumulative product is order-independent; the
    final exp is pinned. If a time exhausts the risk set (dᵢ = nᵢ),
    survival is exactly 0 from that point on (tracked with a running
    max flag rather than ln(0)).

    Scale design: collapse to one row per (group, duration) FIRST —
    map-side combined; the windows then run over the duration-domain-
    sized relation (weighted_median's contract), one partition per
    group. Output rows are event times only (where dᵢ > 0), the
    standard step-curve support."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    obs = F.col(observed_col).cast("boolean")
    per_t = (
        df.select(
            F.col(group_col),
            F.col(duration_col).cast("long").alias("__t"),
            obs.alias("__o"),
        )
        .groupBy(group_col, "__t")
        .agg(
            F.count(F.when(F.col("__o"), 1)).alias("__d"),
            F.count(F.lit(1)).alias("__all"),
        )
    )
    w_run = (
        Window.partitionBy(group_col)
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    risked = per_t.select(
        F.col(group_col),
        "__t",
        "__d",
        (
            F.sum("__all").over(w_all)
            - (F.sum("__all").over(w_run) - F.col("__all"))
        ).alias("__n"),
    )
    ln_term = F.when(
        F.col("__d") < F.col("__n"),
        _pin(
            F.log(
                F.lit(1.0)
                - F.col("__d").cast("double") / F.col("__n").cast("double")
            )
        ),
    ).otherwise(F.lit(0.0)).cast(f"decimal(28,{dp})")
    dead = F.when(F.col("__d") >= F.col("__n"), 1).otherwise(0)
    curved = risked.select(
        F.col(group_col),
        "__t",
        "__d",
        "__n",
        F.sum(ln_term).over(w_run).alias("__lnsum"),
        F.max(dead).over(w_run).alias("__exhausted"),
    )
    survival = F.when(F.col("__exhausted") == 1, F.lit(0.0)).otherwise(
        _pin(F.exp(F.col("__lnsum").cast("double")))
    )
    return curved.filter(F.col("__d") > 0).select(
        group_col,
        F.col("__t").alias("duration"),
        F.col("__n").cast("long").alias("n_at_risk"),
        F.col("__d").cast("long").alias("n_events"),
        survival.alias("survival"),
    )


def ewma_bounded(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    value: Column,
    lags: int = 8,
    dp: int = 6,
) -> DataFrame:
    """Bounded-lookback exponential moving average (α = 1/2) per
    partition: the trend-smoothing primitive, in the FINITE-window form
    s_t = Σ_{j<L} 2^{−j}·x_{t−j} / Σ_{j<L} 2^{−j} over the lags that
    exist — at L = 8 the truncated tail weight is 2^−8 ≈ 0.4 % of the
    infinite-EWMA mass, and the start of each series renormalizes over
    the lags present instead of leaking zeros.

    Why this form: the textbook recursion s_t = αx_t + (1−α)s_{t−1}
    needs a sequential scan per key (applyInPandas territory) and its
    accumulated float state is NOT portable across engines. Bounded
    lags are ONE window pass with L lag() reads — no Python, no
    recursion — and α = 1/2 makes every weight 2^−j exactly
    representable, so with integer-cent inputs each product is a
    dyadic rational held exactly in a double: numerator, denominator
    and their mirrored left-assoc sums are bit-equal on any IEEE
    engine, and only the final quotient needs the ``dp`` pin.

    ``value`` must be an integer-unit column; |x| < 2^45 keeps every
    partial sum exact. One RANGE-free rows window, state = L rows per
    key."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    out = df.withColumn("__x0", value.cast("long"))
    num: Column | None = None
    den: Column | None = None
    for j in range(lags):
        xj = F.col("__x0") if j == 0 else F.lag("__x0", j).over(w)
        wj = F.lit(0.5**j)  # 2^-j: exact in double AND as a SQL literal
        t = F.when(xj.isNotNull(), xj.cast("double") * wj).otherwise(
            F.lit(0.0)
        )
        d = F.when(xj.isNotNull(), wj).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = d if den is None else den + d
    return out.withColumn("ewma", _pin(num / den)).drop("__x0")


def holt_weights(lags: int = 8) -> list[float]:
    """Impulse-response weights of Holt's linear (double-exponential)
    one-step forecast at α = β = 1/2, as EXACT dyadic rationals.

    Holt recursion: l_t = ½y_t + ½(l_{t−1}+b_{t−1}),
    b_t = ½(l_t−l_{t−1}) + ½b_{t−1}; forecast f_t = l_t + b_t.
    Substituting gives the homogeneous matrix M = [[½,½],[−¼,¾]] and
    input vector [½,¼], so the weight of y_{t−j} in f_t is
    [1,1]·Mʲ·[½,¼] — every entry dyadic because α = β = ½, hence every
    weight is exactly representable in an IEEE double AND as a SQL
    literal. Computed with Fraction so no float error enters the
    derivation. (w = [¾, 7/16, 11/64, −1/256, …] — the small negative
    tail is the trend term looking back.)"""
    from fractions import Fraction as Fr

    half, quarter = Fr(1, 2), Fr(1, 4)
    l_c, b_c = half, quarter  # state coefficients of the y impulse
    out: list[float] = []
    for _ in range(lags):
        out.append(float(l_c + b_c))
        l_c, b_c = half * l_c + half * b_c, -quarter * l_c + Fr(3, 4) * b_c
    return out


def holt_forecast(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    value: Column,
    lags: int = 8,
    dp: int = 6,
) -> DataFrame:
    """Bounded-lookback Holt linear one-step-ahead forecast per
    partition — the TREND-aware sibling of [ewma_bounded] (a pure EWMA
    lags a ramp forever; Holt's trend state catches it). Same
    engine-portability rewrite: the sequential two-state recursion
    (applyInPandas territory, float state not portable) becomes ONE
    rows-window pass over the ``lags`` most recent values with the
    recursion's EXACT dyadic impulse-response weights (holt_weights)
    baked in as literals; series starts renormalize over the weights
    present (w₀ = ¾ dominates, so the denominator stays ≥ ¾ and the
    division is well-conditioned).

    ``value`` must be an integer-unit column (|x| < 2^45): every
    product is dyadic-weight × integer — exact in double — and the
    mirrored left-assoc sums are bit-equal on any IEEE engine; only
    the final quotient is pinned to ``dp`` dp."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    ws = holt_weights(lags)
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    out = df.withColumn("__x0", value.cast("long"))
    num: Column | None = None
    den: Column | None = None
    for j, wj_val in enumerate(ws):
        xj = F.col("__x0") if j == 0 else F.lag("__x0", j).over(w)
        wj = F.lit(wj_val)
        t = F.when(xj.isNotNull(), xj.cast("double") * wj).otherwise(
            F.lit(0.0)
        )
        d = F.when(xj.isNotNull(), wj).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = d if den is None else den + d
    return out.withColumn("holt_next", _pin(num / den)).drop("__x0")


def sliding_distinct(
    df: DataFrame,
    day_col: Column,
    key_col: Column,
    window_days: int = 7,
) -> DataFrame:
    """Rolling W-day distinct count: for every day PRESENT in the data,
    the number of distinct keys seen in [day − W + 1, day] — rolling
    active users, the windowed-distinct metric COUNT(DISTINCT) OVER
    RANGE cannot express (distinct state is not subtractable, so no
    engine supports the frame form).

    The scale rewrite: collapse to distinct (day, key) once — the ONLY
    fact-sized shuffle — then each survivor replicates to the W target
    days it can influence (explode of a W-literal sequence, map-side),
    a semi-join against the distinct day list drops targets past the
    observed range, and one count-distinct per target day finishes.
    Cost ∝ W·|day-key pairs|, never W passes over the raw table; skew
    bounded by the busiest window, not the busiest day×W."""
    ud = df.select(day_col.alias("__d"), key_col.alias("__k")).distinct()
    days = ud.select(F.col("__d").alias("day")).distinct()
    fanout = ud.select(
        "__d",
        "__k",
        F.explode(
            F.sequence(F.lit(0), F.lit(window_days - 1))
        ).alias("__j"),
    ).select((F.col("__d") + F.col("__j")).alias("day"), "__k")
    return (
        fanout.join(days, "day")
        .groupBy("day")
        .agg(F.count_distinct(F.col("__k")).cast("long").alias("n_distinct"))
    )


def interval_coalesce(
    df: DataFrame,
    part_col: str,
    start: Column,
    end: Column,
    tiebreak: Column,
) -> DataFrame:
    """Merge overlapping/touching intervals per partition and report
    the coverage profile — entity timeline union ("how much wall-clock
    was this user actually active, counting concurrent sessions
    once"). Returns per partition: n_raw input intervals, n_merged
    maximal islands, covered total length.

    Gaps-and-islands, one window pass: order by (start, tiebreak), an
    interval opens a new island iff its start exceeds the running max
    END of everything earlier (the running max — not lag(end) — is
    what makes nested intervals safe: a short interval inside a long
    one must not reopen), island id = running count of opens, then one
    groupBy folds island extents and a second ≤-island-count groupBy
    folds the profile. Start/end must be integer units (µs, days);
    touching intervals (start == prev end) merge."""
    w = Window.partitionBy(part_col).orderBy("__s", "__tb")
    prev_end = F.max("__e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    opens = F.when(
        prev_end.isNull() | (F.col("__s") > prev_end), F.lit(1)
    ).otherwise(F.lit(0))
    island = F.sum(opens).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = (
        df.select(
            F.col(part_col),
            start.alias("__s"),
            end.alias("__e"),
            tiebreak.alias("__tb"),
        )
        .withColumn("__isl", island)
        .groupBy(part_col, "__isl")
        .agg(
            F.min("__s").alias("__lo"),
            F.max("__e").alias("__hi"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return islands.groupBy(part_col).agg(
        F.sum("__n").cast("long").alias("n_raw"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
        F.sum(F.col("__hi") - F.col("__lo")).cast("long").alias("covered"),
    )


def period_over_period(
    df: DataFrame,
    month_col: Column,
    value: Column,
    dp: int = 6,
) -> DataFrame:
    """Month-over-month and year-over-year comparison of a monthly
    measure — the BI staple that needs CALENDAR joins, not lag():
    months can be missing, and lag(1) over present months would
    silently compare March to January across a gap. ``month_col``
    must be an integer yyyymm code.

    One grouped fold to ≤|months| rows, then two self-joins on exact
    month arithmetic (prev month = m−1, or (y−1)·100+12 across
    January; prior year = m−100) — broadcast-sized after the first
    shuffle no matter the fact-table size. Absent comparison periods
    yield NULL pct (gap surfaced, not zero-filled); pct = pinned
    (cur − prev)/prev, guarded against prev = 0."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    m = (
        df.select(month_col.cast("long").alias("month"), value.alias("__v"))
        .groupBy("month")
        .agg(F.sum("__v").cast("long").alias("rev"))
    )
    prev_m = F.when(
        F.col("month") % 100 == 1, F.col("month") - 100 + 11
    ).otherwise(F.col("month") - 1)
    base = m.withColumn("__pm", prev_m).withColumn(
        "__py", F.col("month") - 100
    )
    mm = m.select(F.col("month").alias("__pm"), F.col("rev").alias("__mrev"))
    yy = m.select(F.col("month").alias("__py"), F.col("rev").alias("__yrev"))

    def _pct(cur: Column, prev: Column) -> Column:
        return F.when(
            prev.isNotNull() & (prev != 0),
            _pin(
                (cur - prev).cast("double") / prev.cast("double")
            ),
        )

    return (
        base.join(F.broadcast(mm), "__pm", "left")
        .join(F.broadcast(yy), "__py", "left")
        .select(
            "month",
            "rev",
            _pct(F.col("rev"), F.col("__mrev")).alias("mom_pct"),
            _pct(F.col("rev"), F.col("__yrev")).alias("yoy_pct"),
        )
    )
