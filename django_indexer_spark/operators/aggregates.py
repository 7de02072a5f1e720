"""Aggregation operators — SURVEY.md §2.4 (A1-A10).

The reference computes its stats with O(entities x queries) Python loops
(tasks.py:188-327, one QuerySet per pot/account); here each stats family is
ONE grouped aggregation — map-side partial aggregation + a single shuffle —
then a broadcast join back to the entity table (plans/account_stats.py,
plans/pot_stats.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..iterative import cut_lineage


def conditional_sum(flag: Column, value: Column, alias: str) -> Column:
    """A5 — pivot-by-flag aggregation (tasks.py:188-257 matching_pool split):
    sum(value) restricted to rows where ``flag`` holds, in ONE pass over the
    fact table instead of the reference's two filtered queries per pot."""
    return F.sum(F.when(flag, value)).alias(alias)


def conditional_count(flag: Column, alias: str) -> Column:
    return F.count(F.when(flag, F.lit(1))).alias(alias)


def approx_distinct_count(df: DataFrame, col: str, rsd: float = 0.02) -> DataFrame:
    """A3 at 100 TB — HyperLogLog++ sketch. Exact countDistinct of a
    high-cardinality key is a full shuffle of the key; the sketch is a
    map-side-combinable fixed-size state. Exposed as a first-class variant
    (SURVEY.md §2.4 A3 note)."""
    return df.agg(F.approx_count_distinct(col, rsd).alias(f"approx_distinct_{col}"))


def welch_ttest(
    df: DataFrame,
    group_col: str,
    arm_col: Column,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Welch's two-sample t statistic per group — the A/B-test readout
    over an event log (arms usually assigned by a deterministic hash of
    the unit id, so re-runs and engines agree). Output per group: both
    arms' n/mean and the t statistic.

    Scale design: ONE map-side-combined shuffle — conditional decimal
    sums of 3-dp-rounded values (DECIMAL(18,3)) and their EXACT squares
    (DECIMAL(38,6) holds any (18,3)² without rounding) fold
    order-independently, means/variances derive arithmetically from the
    six folded scalars, so the t is bit-stable cross-engine. The 3-dp
    input quantization is the portability contract: a lossless-square
    decimal beats a 6-dp input whose square would round on the cast.
    Sample variance uses n-1; groups where either arm has n < 2 or
    both variances are zero emit t = NULL rather than dividing by
    zero."""
    v = F.col(value_col).cast("double")
    vd = F.round(v, 3).cast("decimal(18,3)")
    a = arm_col.cast("boolean")

    def _s(cond: Column, expr, alias: str) -> Column:
        return F.sum(F.when(cond, expr).otherwise(F.lit(None))).alias(alias)

    g = df.groupBy(group_col).agg(
        F.count(F.when(a, F.lit(1))).alias("n_a"),
        F.count(F.when(~a, F.lit(1))).alias("n_b"),
        _s(a, vd, "__sa"),
        _s(~a, vd, "__sb"),
        _s(a, (vd * vd).cast("decimal(38,6)"), "__qa"),
        _s(~a, (vd * vd).cast("decimal(38,6)"), "__qb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("__sa").cast("double") / na
    mb = F.col("__sb").cast("double") / nb
    # sample variance: (Σv² − n·mean²) / (n − 1)
    va = (F.col("__qa").cast("double") - na * ma * ma) / (na - 1)
    vb = (F.col("__qb").cast("double") - nb * mb * mb) / (nb - 1)
    se = F.sqrt(va / na + vb / nb)
    t = F.when(
        (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se > 0),
        F.round((ma - mb) / se, round_dp),
    )
    return g.select(
        group_col,
        "n_a",
        "n_b",
        F.round(ma, round_dp).alias("mean_a"),
        F.round(mb, round_dp).alias("mean_b"),
        t.alias("t_stat"),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: Column,
    weight_col: Column,
    alias: str = "weighted_median",
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value v such
    that the weight at or below v reaches half the group's total weight
    — percentile_cont's weighted cousin, which no SQL engine ships as a
    built-in. The right center for "median price paid" style questions
    where each row carries a volume, not one vote.

    ``value_col`` and ``weight_col`` must be EXACT types (decimal/int):
    the cumulative fold is then order-independent and engine-exact, so
    the crossing point is unambiguous cross-engine (no double cumsum
    whose association order could flip a boundary row).

    Scale design: collapse to one row per (group, value) FIRST (map-side
    combined shuffle, state = distinct values, not rows), then ONE
    running-sum window per group over that collapsed relation and a
    min() re-aggregate of the crossing values. The window partition
    holds distinct values per group — bounded by the value domain, not
    the fact table; a group whose distinct-value count rivals its row
    count should pre-round values to the precision the question needs
    (the same bucketing trade every exact-percentile path makes)."""
    per_value = (
        df.select(
            F.col(group_col), value_col.alias("__v"), weight_col.alias("__w")
        )
        .groupBy(group_col, "__v")
        .agg(F.sum("__w").alias("__w"))
    )
    w_run = (
        Window.partitionBy(group_col)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    cum = per_value.select(
        F.col(group_col),
        F.col("__v"),
        F.sum("__w").over(w_run).alias("__cum"),
        F.sum("__w").over(w_all).alias("__tot"),
    )
    return (
        cum.filter(F.col("__cum") * 2 >= F.col("__tot"))
        .groupBy(group_col)
        .agg(
            F.min("__v").alias(alias),
            F.min("__tot").alias("total_weight"),
        )
    )


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    dp: int = 6,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, over the FULL r×c contingency spine (absent cells still
    contribute their full (0−e)²/e mass — dropping them understates
    chi², the classic hand-rolled mistake). Output is one row:
    n, dof = (r−1)(c−1), chi2, and Cramér's V effect size.

    Scale design: ONE fact scan → (a, b) counts (map-side combine,
    state = r·c), then everything downstream — margins, spine, terms —
    operates on the r·c-row relation with broadcast joins only. The
    spine is distinct(a) × distinct(b) with the b side broadcast:
    category domains are small by definition of the test (a million-
    category column needs a different tool).

    Determinism: cell/margin counts are exact longs; expected counts
    and each chi-square term are evaluated in double, pinned to ``dp``
    dp, and folded as DECIMAL(28,6) — order-independent, engine-exact."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    cells = (
        df.select(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    row_m = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    col_m = cells.groupBy("__b").agg(F.sum("__o").alias("__cb"))
    tot = cells.agg(
        F.sum("__o").alias("__n"),
        F.countDistinct("__a").alias("__r"),
        F.countDistinct("__b").alias("__c"),
    )
    spine = row_m.crossJoin(F.broadcast(col_m))
    full = (
        spine.join(F.broadcast(cells), ["__a", "__b"], "left")
        .withColumn("__o", F.coalesce(F.col("__o"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("__ra") * F.col("__cb") / F.col("__n")
    term = _pin((F.col("__o") - e) * (F.col("__o") - e) / e).cast(
        f"decimal(28,{dp})"
    )
    agg = full.agg(
        F.min("__n").cast("long").alias("n"),
        ((F.min("__r") - 1) * (F.min("__c") - 1)).cast("long").alias("dof"),
        F.sum(term).cast("double").alias("chi2"),
        F.min("__r").alias("__r"),
        F.min("__c").alias("__c"),
    )
    v = _pin(
        F.sqrt(
            F.col("chi2")
            / (F.col("n") * F.least(F.col("__r") - 1, F.col("__c") - 1))
        )
    )
    return agg.select("n", "dof", "chi2", v.alias("cramers_v"))


def mannwhitney_u(
    df: DataFrame,
    group_col: str,
    arm_col: Column,
    value_col: str,
    dp: int = 6,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) per group with the normal
    approximation and tie correction — the nonparametric twin of
    [welch_ttest] for skewed metrics where means mislead. Midranks are
    handled exactly by working in DOUBLED rank units: for a tied run
    of t values after p predecessors, 2·avg_rank = 2p + t + 1, an
    integer, so 2·R_a = Σ c_a·(2p + t + 1) folds as an exact integer
    and U = (2R_a − n_a(n_a+1))/2 has no half-point float step.

    Scale design: collapse to one row per (group, 3-dp value) FIRST
    (state = distinct values), ONE running-count window over the
    collapsed relation yields the predecessor counts, and a single
    re-aggregate folds 2R_a and the tie term Σ(t³−t) as
    DECIMAL(38,0). z is derived arithmetically from the folded
    integers in double, pinned to ``dp`` dp. Groups with an empty arm
    or all-tied values (zero variance) emit z = NULL."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    vd = F.round(F.col(value_col).cast("double"), 3).cast("decimal(18,3)")
    a = arm_col.cast("boolean")
    per_value = (
        df.select(F.col(group_col), a.alias("__a"), vd.alias("__v"))
        .groupBy(group_col, "__v")
        .agg(
            F.count(F.when(F.col("__a"), 1)).alias("__ca"),
            F.count(F.lit(1)).alias("__t"),
        )
    )
    w_run = (
        Window.partitionBy(group_col)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = per_value.select(
        F.col(group_col),
        "__ca",
        "__t",
        (F.sum("__t").over(w_run) - F.col("__t")).alias("__p"),
    )
    r2_term = (
        F.col("__ca") * (F.lit(2) * F.col("__p") + F.col("__t") + F.lit(1))
    ).cast("decimal(38,0)")
    tie_term = (
        F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
    ).cast("decimal(38,0)")
    g = ranked.groupBy(group_col).agg(
        F.sum("__ca").cast("long").alias("n_a"),
        (F.sum("__t") - F.sum("__ca")).cast("long").alias("n_b"),
        F.sum(r2_term).cast("double").alias("__r2"),
        F.sum(tie_term).cast("double").alias("__tt"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = na + nb
    u = (F.col("__r2") - na * (na + 1)) / F.lit(2.0)
    var = na * nb / 12.0 * ((n + 1) - F.col("__tt") / (n * (n - 1)))
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0),
        _pin((u - na * nb / 2.0) / F.sqrt(var)),
    )
    return g.select(
        group_col,
        "n_a",
        "n_b",
        u.alias("u_stat"),
        z.alias("z_stat"),
    )


def spearman_rho(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    dp: int = 6,
) -> DataFrame:
    """Spearman rank correlation per group with exact tie midranks —
    the monotone-association twin of a_corr_covar's Pearson (which a
    single outlier can saturate). ρ = Pearson over the two rank
    vectors; Pearson is affine-invariant, so ranks are carried in
    DOUBLED units to stay integer under ties: for a row whose value
    has competition rank r (rank()) in a tied run of t, the doubled
    midrank is 2r + t − 1 (2·(r + (t−1)/2)), never a half-point
    float. Cross-engine exactness: the five moment sums
    (Σdx, Σdy, Σdx², Σdy², Σdxdy) fold as DECIMAL(38,0) integers, so
    only the final quotient touches float, pinned ``dp`` dp.

    Shape: ONE shuffle on the group key; the per-axis rank() +
    tied-run-count windows reuse that partitioning (two in-partition
    sorts, no extra exchange), then a single grouped fold. Groups
    where either axis is constant (zero rank variance) emit NULL rho
    rather than 0/0. Values are quantized to 3 dp first — the same
    cross-engine rank-stability contract as mannwhitney_u.

    CLOSED (round-13 A/B, rows verified identical): replacing the
    windows with per-axis (group, value → doubled-midrank) maps joined
    back to the rows — the idea being the maps free the fold from the
    |groups|-task window partitioning — LOSES at sf0.1 (interleaved
    medians 3.95 s windows vs 5.49 s maps): the y-axis has ~|rows|
    distinct values, so its map costs a (group, value)-keyed exchange,
    a |groups|-partitioned window over nearly the same row count, and
    a row-count-sized join — strictly more shuffled bytes than the two
    in-partition sorts it replaces. The low-cardinality-group
    serialization is real but bounded by the docstring's contract: a
    production call groups by a real key (§2.5)."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    xv = F.round(F.col(x_col).cast("double"), 3).cast("decimal(18,3)")
    yv = F.round(F.col(y_col).cast("double"), 3).cast("decimal(18,3)")
    rows = df.select(F.col(group_col), xv.alias("__x"), yv.alias("__y"))
    wx = Window.partitionBy(group_col).orderBy("__x")
    wy = Window.partitionBy(group_col).orderBy("__y")
    cx = Window.partitionBy(group_col, "__x")
    cy = Window.partitionBy(group_col, "__y")
    dxy = rows.select(
        F.col(group_col),
        (F.lit(2) * F.rank().over(wx) + F.count(F.lit(1)).over(cx) - F.lit(1))
        .cast("long")
        .alias("__dx"),
        (F.lit(2) * F.rank().over(wy) + F.count(F.lit(1)).over(cy) - F.lit(1))
        .cast("long")
        .alias("__dy"),
    )
    d38 = "decimal(38,0)"
    g = dxy.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__dx").cast(d38)).alias("__sx"),
        F.sum(F.col("__dy").cast(d38)).alias("__sy"),
        F.sum((F.col("__dx") * F.col("__dx")).cast(d38)).alias("__sxx"),
        F.sum((F.col("__dy") * F.col("__dy")).cast(d38)).alias("__syy"),
        F.sum((F.col("__dx") * F.col("__dy")).cast(d38)).alias("__sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    rho = F.when(
        (varx > 0) & (vary > 0),
        _pin((nd * sxy - sx * sy) / F.sqrt(varx * vary)),
    )
    return g.select(group_col, "n", rho.alias("rho"))


def gini_coefficient(
    df: DataFrame,
    group_col: str,
    value_col: str,
    dp: int = 6,
) -> DataFrame:
    """Gini concentration coefficient per group over a nonnegative
    amount column: G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n with values
    ascending — the inequality / concentration readout (how top-heavy
    are order totals, donations, token counts per doc).

    Tied values make Σ i·x₍ᵢ₎ tiebreak-independent, so it folds
    EXACTLY from the per-(group, value) collapse in DOUBLED rank units
    (mannwhitney_u's trick): a run of t equal values after p
    predecessors contributes x·t·(2p + t + 1) = 2·Σi·x, an integer ×
    decimal product, so G = 2RS/(n·Σx) − (n+1)/n needs no half-point
    division. One running-count window over the collapsed relation,
    one decimal re-aggregate, the final ratio pinned to ``dp`` dp in
    double — same scale contract as weighted_median (window state =
    distinct values, not rows). Groups containing negative values
    violate the Lorenz-curve definition and are dropped."""
    vd = F.round(F.col(value_col).cast("double"), 2).cast("decimal(18,2)")
    per_value = (
        df.select(F.col(group_col), vd.alias("__v"))
        .groupBy(group_col, "__v")
        .agg(F.count(F.lit(1)).alias("__t"))
    )
    w_run = (
        Window.partitionBy(group_col)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = per_value.select(
        F.col(group_col),
        "__v",
        "__t",
        (F.sum("__t").over(w_run) - F.col("__t")).alias("__p"),
    )
    # x·t·(2p+t+1) = 2·(rank contribution): DECIMAL(18,2) × up-to-n²
    # integer fits (38,2); staying in doubled units avoids a t(t+1)/2
    # that Spark's `/` would compute in double
    rank_sum = (
        F.col("__v")
        * (
            F.col("__t")
            * (F.lit(2) * F.col("__p") + F.col("__t") + F.lit(1))
        )
    ).cast("decimal(38,2)")
    g = ranked.groupBy(group_col).agg(
        F.sum("__t").cast("long").alias("n"),
        F.sum((F.col("__v") * F.col("__t")).cast("decimal(38,2)"))
        .alias("__tot"),
        F.sum(rank_sum).alias("__rs"),
        F.min("__v").alias("__minv"),
    )
    pow10 = float(10**dp)
    pinned = lambda c: F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)  # noqa: E731
    nn = F.col("n").cast("double")
    # __rs is already 2·Σi·x (doubled units), so no leading 2· factor
    gini = pinned(
        F.col("__rs").cast("double") / (nn * F.col("__tot").cast("double"))
        - (nn + 1) / nn
    )
    return (
        g.filter(F.col("__minv") >= 0)
        .filter(F.col("__tot") > 0)
        .select(
            group_col,
            "n",
            F.col("__tot").cast("double").alias("total"),
            gini.alias("gini"),
        )
    )


def wilson_interval(
    df: DataFrame,
    group_col: str,
    success_col: Column,
    z: float = 1.96,
    dp: int = 6,
) -> DataFrame:
    """Wilson score confidence interval for a per-group proportion —
    the right CI for conversion/defect rates (unlike the normal
    approximation it never leaves [0,1] and behaves at small n or
    extreme p). Output per group: n, successes, the point rate and
    the [lo, hi] bounds at confidence ``z`` (1.96 = 95%).

    Scale design: ONE map-side-combined count shuffle; all the
    interval arithmetic happens on the ≤|groups|-row aggregate.
    Determinism: n/s are exact longs; rate and both bounds are
    derived in double with the standard closed form and pinned to
    ``dp`` dp — identical IEEE ops on any engine."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(success_col, 1)).alias("successes"),
    )
    nn = F.col("n").cast("double")
    p = F.col("successes").cast("double") / nn
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / nn
    center = (p + z2 / (2 * nn)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1 - p) / nn + z2 / (4 * nn * nn))
        / denom
    )
    return g.filter(F.col("n") > 0).select(
        group_col,
        "n",
        "successes",
        _pin(p).alias("rate"),
        _pin(center - half).alias("ci_lo"),
        _pin(center + half).alias("ci_hi"),
    )


def theil_index(
    df: DataFrame,
    group_col: str,
    value_col: str,
    dp: int = 6,
) -> DataFrame:
    """Theil T inequality index with its group decomposition — the
    entropy-based cousin of [gini_coefficient] whose defining property
    is EXACT additive decomposability:
    T_total = Σ_g share_g·T_g  +  Σ_g share_g·ln(μ_g/μ).
    Output per group: n, total, theil_within (T_g), share (of the
    grand total), and between_term (that group's addend to the
    between-groups component) — the "is inequality inside teams or
    across teams" readout.

    Positive values only (ln of a value/mean ratio); zero and negative
    rows are excluded before anything is summed.

    Scale design: one fact scan folds per-group n and decimal totals;
    group means broadcast back onto a second scan for the per-row
    (x/μ_g)·ln(x/μ_g) terms — each pinned ``dp`` dp and folded
    DECIMAL(38,6), so T_g is order-independent; the grand mean/total
    come from re-aggregating the ≤|groups|-row relation (broadcast),
    never a second full pass. All derived scalars pinned."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    vd = F.round(F.col(value_col).cast("double"), 2).cast("decimal(18,2)")
    pos = df.select(F.col(group_col), vd.alias("__v")).filter(
        F.col("__v") > 0
    )
    g = pos.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__v").cast("decimal(38,2)")).alias("__tot"),
    )
    grand = g.agg(
        F.sum("__tot").alias("__gtot"), F.sum("n").alias("__gn")
    )
    gm = g.crossJoin(F.broadcast(grand)).select(
        group_col,
        "n",
        "__tot",
        _pin(F.col("__tot").cast("double") / F.col("n")).alias("__mu"),
        _pin(F.col("__gtot").cast("double") / F.col("__gn")).alias("__gmu"),
        _pin(
            F.col("__tot").cast("double") / F.col("__gtot").cast("double")
        ).alias("share"),
    )
    x = F.col("__v").cast("double") / F.col("__mu")
    term = _pin(x * F.log(x)).cast(f"decimal(38,{dp})")
    within = (
        pos.join(F.broadcast(gm.select(group_col, "__mu")), group_col)
        .groupBy(group_col)
        .agg(F.sum(term).alias("__tsum"))
    )
    return (
        gm.join(F.broadcast(within), group_col)
        .select(
            group_col,
            "n",
            F.col("__tot").cast("double").alias("total"),
            "share",
            _pin(F.col("__tsum").cast("double") / F.col("n")).alias(
                "theil_within"
            ),
            _pin(
                F.col("share")
                * _pin(F.log(F.col("__mu") / F.col("__gmu")))
            ).alias("between_term"),
        )
    )


def info_gain_best_split(
    df: DataFrame,
    feature: Column,
    label: Column,
    bin_width: int,
    dp: int = 6,
) -> DataFrame:
    """Best binary-split threshold by information gain — the decision-
    stump / feature-evaluation primitive a training pipeline runs per
    candidate feature ("where should x split to separate the label
    best"). ``feature`` must be an integer-unit column (cents);
    ``label`` a 0/1 integer column.

    Distributed shape: one fact scan folds per-BIN (floor(x/bin_width))
    positive/total counts — binning first bounds candidate-threshold
    state to (range/bin_width) rows no matter the table size, the same
    move approximate tree learners (histogram-based GBDTs) make at
    scale. A single ordered window pass turns bin counts into
    cumulative left-side counts, every bin edge becomes a candidate
    split, and the 1-row argmax is a TakeOrdered (gain DESC, threshold
    ASC) — never a full sort.

    Entropy arithmetic is the engine-exact form used across this
    package: each −(c/t)·ln(c/t) term pinned to ``dp`` dp (0 terms for
    empty classes, never ln(0)), each weighted child entropy pinned,
    the final gain pinned. Counts stay exact BIGINTs end to end.

    Returns ONE row: threshold (split is `feature <= threshold`, the
    bin's inclusive upper edge), n/pos on each side, child entropies,
    and gain."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    def _plogp(c: Column, t: Column) -> Column:
        # pinned -(c/t)·ln(c/t); exact-0 for c == 0 (lim x·ln x = 0)
        p = c.cast("double") / t.cast("double")
        return F.when(c == 0, F.lit(0.0)).otherwise(
            _pin(-(p * F.log(p)))
        )

    def _entropy(pos: Column, n: Column) -> Column:
        return _plogp(pos, n) + _plogp(n - pos, n)

    bins = (
        df.select(
            F.floor(feature / F.lit(bin_width)).cast("long").alias("__b"),
            label.cast("long").alias("__y"),
        )
        .groupBy("__b")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__y").alias("__pos"),
        )
    )
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "__b",
        F.sum("__n").over(w).alias("__nl"),
        F.sum("__pos").over(w).alias("__pl"),
    )
    tot = bins.agg(
        F.sum("__n").alias("__nt"), F.sum("__pos").alias("__pt")
    )
    cand = cum.crossJoin(F.broadcast(tot)).filter(
        F.col("__nl") < F.col("__nt")  # right side must be nonempty
    )
    nl, pl = F.col("__nl"), F.col("__pl")
    nt, pt = F.col("__nt"), F.col("__pt")
    nr, pr = nt - nl, pt - pl
    h_root = _entropy(pt, nt)
    h_l = _entropy(pl, nl)
    h_r = _entropy(pr, nr)
    wl = _pin(nl.cast("double") / nt.cast("double") * h_l)
    wr = _pin(nr.cast("double") / nt.cast("double") * h_r)
    scored = cand.select(
        ((F.col("__b") + 1) * F.lit(bin_width) - 1).alias("threshold"),
        nl.alias("n_left"),
        pl.alias("pos_left"),
        nr.alias("n_right"),
        pr.alias("pos_right"),
        _pin(h_l).alias("entropy_left"),
        _pin(h_r).alias("entropy_right"),
        _pin(h_root - wl - wr).alias("gain"),
    )
    return scored.orderBy(
        F.col("gain").desc(), F.col("threshold").asc()
    ).limit(1)


def cohens_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
    dp: int = 6,
) -> DataFrame:
    """Cohen's kappa between two categorical raters — chance-corrected
    agreement κ = (p_o − p_e)/(1 − p_e), the label-quality readout a
    curation pipeline runs between a gold column and a cheap
    classifier (raw agreement flatters whichever class dominates;
    kappa doesn't). Returns ONE row: n_items, p_observed, p_expected,
    kappa.

    Distributed shape: ONE fact scan folds the (a, b) contingency
    cells (≤ |categories|² rows, map-side combined — the rater columns
    are often expensive derived expressions like lang_id over full
    text, so they must be evaluated once, not once per marginal); n,
    the agreement count and both marginal histograms are re-aggregates
    of the materialized cells. Per-category chance products pin to
    ``dp`` dp and fold as DECIMAL(38,6) — order-independent, so p_e is
    exact no matter how partitions merge. Everything downstream of the
    single scan is |categories|²-sized.

    PRECONDITION: the rater columns must be LOW-CARDINALITY coded
    categories (labels, language ids, buckets) — the contingency fold's
    map-side hash state and the materialized cells frame grow as
    |categories|², so raw free-text raters would blow the single-scan
    shape up quadratically (round-12 ADVICE). Kappa over such input
    should bucket/code the raters first."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    # contingency cells: the one corpus-sized pass. cut_lineage (eager
    # localCheckpoint / checkpoint) materializes them so the three
    # re-aggregates below don't each re-run the scan (and re-evaluate
    # the rater expressions) — the cells frame is bounded by the
    # category-pair count, never the corpus.
    cells = cut_lineage(
        df.groupBy(
            F.col(col_a).alias("__ka"), F.col(col_b).alias("__kb")
        ).agg(F.count(F.lit(1)).alias("__n"))
    )
    # coalesce to 0 on EMPTY input: sum over zero cells is NULL where
    # the pre-round-12 F.count-based fold returned 0 (round-12 ADVICE)
    tot = cells.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_items"),
        F.coalesce(
            F.sum(
                F.when(F.col("__ka") == F.col("__kb"), F.col("__n")).otherwise(
                    F.lit(0)
                )
            ),
            F.lit(0),
        ).alias("__agree"),
    )
    ma = cells.groupBy(F.col("__ka").alias("__k")).agg(
        F.sum("__n").alias("__na")
    )
    mb = cells.groupBy(F.col("__kb").alias("__k")).agg(
        F.sum("__n").alias("__nb")
    )
    chance = (
        ma.join(mb, "__k")
        .crossJoin(F.broadcast(tot.select("n_items")))
        .select(
            _pin(
                (F.col("__na") * F.col("__nb")).cast("double")
                / (F.col("n_items") * F.col("n_items")).cast("double")
            )
            .cast("decimal(38,6)")
            .alias("__term")
        )
        .agg(F.sum("__term").cast("double").alias("__pe"))
    )
    po = _pin(
        F.col("__agree").cast("double") / F.col("n_items").cast("double")
    )
    pe = _pin(F.col("__pe"))
    return tot.crossJoin(F.broadcast(chance)).select(
        F.col("n_items").cast("long").alias("n_items"),
        po.alias("p_observed"),
        pe.alias("p_expected"),
        _pin((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def hamilton_apportion(
    df: DataFrame,
    group_col: str,
    seats: int,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: split a fixed
    integer budget of ``seats`` across groups proportionally to their
    row counts — quota sampling, shard-count assignment, GPU-hour
    allocation: any "divide N discrete units fairly" step. ALL-INTEGER
    arithmetic: quota = seats·n_g as exact BIGINT, base = quota DIV N,
    remainder = quota % N; the seats − Σbase leftovers go to the
    largest remainders (ties broken by the group key, so the result is
    total and deterministic on any engine — no floating quotas ever).

    One grouped count, a broadcast 1-row total, then a row_number
    window over the ≤|groups|-row relation (remainder DESC, key ASC) —
    the only state after the first shuffle is one row per group.
    Σ seats_g == seats by construction (the largest-remainder
    invariant), which the gate's unit test asserts."""
    g = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    tot = g.agg(F.sum("n").alias("__N"))
    q = g.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n",
        F.expr(f"CAST({seats} AS BIGINT) * n DIV __N").alias("base_seats"),
        F.expr(f"CAST({seats} AS BIGINT) * n % __N").alias("__rem"),
        F.col("__N"),
    )
    leftover = F.lit(seats) - F.sum("base_seats").over(
        Window.partitionBy(F.lit(1))
    )
    w = Window.orderBy(F.col("__rem").desc(), F.col(group_col).asc())
    return (
        q.withColumn("__rank", F.row_number().over(w))
        .withColumn("__left", leftover)
        .select(
            group_col,
            F.col("n").cast("long").alias("n"),
            F.col("base_seats").cast("long").alias("base_seats"),
            (F.col("__rank") <= F.col("__left"))
            .cast("long")
            .alias("extra_seat"),
            (
                F.col("base_seats")
                + (F.col("__rank") <= F.col("__left")).cast("long")
            )
            .cast("long")
            .alias("seats"),
        )
    )


def roc_auc(
    df: DataFrame,
    group_col: str,
    score: Column,
    label: Column,
    dp: int = 6,
) -> DataFrame:
    """Per-group ROC AUC by the rank statistic — the model-eval twin
    of the Mann-Whitney U gate, with the tie handling a real score
    column forces (average ranks). ALL-INTEGER until the final
    division: with per-score tie groups of c_g rows (p_g positive) and
    b_g rows strictly below, twice the positives' rank sum is
    Σ p_g·(2b_g + c_g + 1) exactly, so

        AUC = (2R⁺ − P(P+1)) / (2·P·N)

    has an exact BIGINT numerator and denominator; only the quotient
    is pinned ``dp`` dp. ``score`` must be an integer column; ``label``
    0/1. Groups with no positives or no negatives return NULL auc
    (undefined, surfaced not masked).

    Shape: one groupBy(group, score) collapse (map-side combined — the
    window then ranks DISTINCT scores, not rows), one group-partitioned
    cumulative window, one final fold per group."""
    pow10 = float(10**dp)
    per_score = (
        df.select(
            F.col(group_col),
            score.cast("long").alias("__s"),
            label.cast("long").alias("__y"),
        )
        .groupBy(group_col, "__s")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum("__y").alias("__p"),
        )
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stepped = per_score.select(
        F.col(group_col),
        "__c",
        "__p",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__b"),
    )
    agg = stepped.groupBy(group_col).agg(
        F.sum("__c").alias("n"),
        F.sum("__p").alias("n_pos"),
        F.sum(
            F.col("__p") * (F.lit(2) * F.col("__b") + F.col("__c") + 1)
        ).alias("__r2"),
    )
    n_neg = F.col("n") - F.col("n_pos")
    num = F.col("__r2") - F.col("n_pos") * (F.col("n_pos") + 1)
    den = F.lit(2) * F.col("n_pos") * n_neg
    return agg.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        F.when(
            (F.col("n_pos") > 0) & (n_neg > 0),
            F.floor(
                num.cast("double") / den.cast("double") * F.lit(pow10)
                + F.lit(0.5)
            )
            / F.lit(pow10),
        ).alias("auc"),
    )


def pareto_vital_few(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    value: Column,
    pct_num: int = 8,
    pct_den: int = 10,
) -> DataFrame:
    """Pareto "vital few" report: per group, how many entities cover
    ``pct_num/pct_den`` of the total — the 80/20 concentration readout
    ("how many customers are 80 % of revenue") that complements the
    Gini/Theil indices with an actionable COUNT. The crossing test is
    ALL-INTEGER: an entity is needed while
    den·(cum − own) < num·total, so no float share ever decides
    membership; only the reported share of the selected head is
    pinned.

    One entity-grained fold (map-side combined), one group-partitioned
    window ordered (value DESC, entity ASC — a total order so the
    crossing row is deterministic), one final fold per group."""
    ent = (
        df.select(
            F.col(group_col),
            F.col(entity_col).alias("__e"),
            value.alias("__v"),
        )
        .groupBy(group_col, "__e")
        .agg(F.sum("__v").cast("long").alias("__val"))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("__val").desc(), F.col("__e").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy(group_col)
    stepped = ent.select(
        F.col(group_col),
        "__val",
        F.sum("__val").over(w).alias("__cum"),
        F.sum("__val").over(wt).alias("__tot"),
    )
    needed = (
        F.lit(pct_den) * (F.col("__cum") - F.col("__val"))
        < F.lit(pct_num) * F.col("__tot")
    ).cast("long")
    return (
        stepped.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.sum(needed).cast("long").alias("n_vital"),
            F.sum(F.when(needed == 1, F.col("__val"))).cast("long").alias(
                "vital_cents"
            ),
            F.min("__tot").cast("long").alias("total_cents"),
        )
        .select(
            group_col,
            "n_entities",
            "n_vital",
            "vital_cents",
            "total_cents",
            (
                F.floor(
                    F.col("vital_cents").cast("double")
                    / F.col("total_cents").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("vital_share"),
        )
    )


def mutual_information(
    df: DataFrame,
    col_a: Column,
    col_b: Column,
    dp: int = 6,
) -> DataFrame:
    """Mutual information between two categorical columns — the
    magnitude companion to the chi-square independence gate ("HOW MUCH
    does knowing A tell you about B", in nats). MI =
    Σ_xy (c_xy/n)·ln(c_xy·n / (c_x·c_y)); independent columns → 0.

    One joint count (the only fact-sized shuffle), two marginal counts
    re-aggregated FROM the joint (≤|A×B| rows, never a second fact
    scan), per-cell terms pinned ``dp`` dp into DECIMAL(38,6) folds so
    the sum is order-independent; the single ln ratio uses one fixed
    parse shape mirrored in the oracle."""
    pow10 = float(10**dp)
    joint = (
        df.select(col_a.alias("__a"), col_b.alias("__b"))
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).alias("__cab"))
    )
    ma = joint.groupBy("__a").agg(F.sum("__cab").alias("__ca"))
    mb = joint.groupBy("__b").agg(F.sum("__cab").alias("__cb"))
    tot = joint.agg(F.sum("__cab").alias("n"))
    term = F.floor(
        (F.col("__cab").cast("double") / F.col("n").cast("double"))
        * F.log(
            (F.col("__cab").cast("double") * F.col("n").cast("double"))
            / (F.col("__ca").cast("double") * F.col("__cb").cast("double"))
        )
        * F.lit(pow10)
        + F.lit(0.5)
    ) / F.lit(pow10)
    return (
        joint.join(F.broadcast(ma), "__a")
        .join(F.broadcast(mb), "__b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").cast("long").alias("n"),
            term.cast("decimal(38,6)").alias("__t"),
        )
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("__t").cast("double").alias("mi_nats"),
        )
    )


def gains_table(
    df: DataFrame,
    group_col: str,
    score: Column,
    label: Column,
    n_buckets: int = 10,
    dp: int = 6,
) -> DataFrame:
    """Cumulative gains / lift table per group — the decile report
    behind "the top 10% of scores captures 42% of positives, lift
    4.2×": how model-eval looks to a campaign owner, complementing
    the single-number AUC. Bucketing is ALL-INTEGER over the
    per-score collapse: a tie group starting after ``b`` of ``T``
    rows lands in bucket (n_buckets·b) DIV T + 1, so ties never
    straddle buckets and no float percentile decides membership;
    capture and lift pin only at the end (lift =
    (pos_d·T)/(n_d·P) in one mirrored ratio).

    Same shape as roc_auc: one groupBy(group, score) collapse, one
    group-partitioned cumulative window over DISTINCT scores, one
    fold per (group, bucket)."""
    pow10 = float(10**dp)
    per_score = (
        df.select(
            F.col(group_col),
            score.cast("long").alias("__s"),
            label.cast("long").alias("__y"),
        )
        .groupBy(group_col, "__s")
        .agg(F.count(F.lit(1)).alias("__c"), F.sum("__y").alias("__p"))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("__s").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy(group_col)
    stepped = per_score.select(
        F.col(group_col),
        "__c",
        "__p",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__b"),
        F.sum("__c").over(wt).alias("__t"),
        F.sum("__p").over(wt).alias("__pt"),
    )
    per_bucket = (
        stepped.withColumn(
            "__bk",
            F.expr(f"{n_buckets} * __b DIV __t") + 1,
        )
        .groupBy(group_col, "__bk")
        .agg(
            F.sum("__c").alias("n"),
            F.sum("__p").alias("n_pos"),
            F.min("__t").alias("__tt"),
            F.min("__pt").alias("__ppt"),
        )
    )
    wc = (
        Window.partitionBy(group_col)
        .orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_bucket.select(
        group_col,
        F.col("__bk").cast("long").alias("bucket"),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        (
            F.floor(
                F.sum("n_pos").over(wc).cast("double")
                / F.col("__ppt").cast("double")
                * F.lit(pow10)
                + F.lit(0.5)
            )
            / F.lit(pow10)
        ).alias("cum_capture"),
        (
            F.floor(
                (F.col("n_pos") * F.col("__tt")).cast("double")
                / (F.col("n") * F.col("__ppt")).cast("double")
                * F.lit(pow10)
                + F.lit(0.5)
            )
            / F.lit(pow10)
        ).alias("lift"),
    )


def ols_two_features(
    df: DataFrame,
    group_col: str,
    x1_col: str,
    x2_col: str,
    y_col: str,
    dp: int = 6,
) -> DataFrame:
    """Closed-form TWO-feature least squares per group — the normal
    equations solved by Cramer's rule on centered moments, the
    multi-regressor step past zipf_fit's single-feature OLS (price on
    quantity AND discount, value on hour AND day…). No iteration, no
    Python: fitting is five exact covariance folds and four divisions.

    Exactness contract (the repo's two-pass pattern): inputs quantize
    to 3 dp; per-group means come off one grouped DECIMAL(38,3) fold
    and pin to ``dp``; centered products pin per row and fold as
    DECIMAL(38,6) (order-independent); the β solve runs in double on
    the folded scalars only, pinned. Groups with a singular normal
    matrix (either feature constant, or the two features perfectly
    collinear) emit NULL βs — surfaced, not 0/0. Output:
    (group, n, beta0, beta1, beta2). NULL GROUP KEYS are dropped: the
    means re-attach via an equi-join, which (unlike the pre-round-12
    Window.partitionBy) does not match NULL keys — callers whose group
    column can be NULL must coalesce it to a sentinel first (round-12
    ADVICE; the fixture group keys are non-null).

    Shape: the means pass is a map-side-combined grouped fold (one
    |groups|-row exchange), broadcast-joined back onto a second
    parallel scan for the centered fold — NOT a group-partitioned
    window: regression group keys are low-cardinality (return flags,
    event types), so a window partitioned on them collapses the whole
    fact table into |groups| tasks, each buffering its entire
    partition (the §2.5 skew shape — unacceptable at 100 TB, and
    measured 3.4 s → 0.9 s at sf0.1). Two scans + two |groups|-sized
    exchanges; per-group state = 6 decimals — safe at any cardinality
    (swap the broadcast for a shuffle join if |groups| ever outgrows
    the broadcast cap)."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    q3 = lambda c: F.round(F.col(c).cast("double"), 3).cast("decimal(18,3)")
    rows = df.select(
        F.col(group_col),
        q3(x1_col).alias("__x1"),
        q3(x2_col).alias("__x2"),
        q3(y_col).alias("__y"),
    )
    d383 = "decimal(38,3)"
    # means: |groups| rows, materialized once (cut_lineage) because the
    # frame feeds both the centered scan below and the final β solve —
    # without it each consumer re-runs the means scan.
    sums = rows.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__x1").cast(d383)).alias("__s1"),
        F.sum(F.col("__x2").cast(d383)).alias("__s2"),
        F.sum(F.col("__y").cast(d383)).alias("__sy"),
    )
    nd_ = F.col("n").cast("double")
    means = cut_lineage(
        sums.select(
            F.col(group_col),
            "n",
            _pin(F.col("__s1").cast("double") / nd_).alias("__m1"),
            _pin(F.col("__s2").cast("double") / nd_).alias("__m2"),
            _pin(F.col("__sy").cast("double") / nd_).alias("__my"),
        )
    )
    centered = rows.join(
        F.broadcast(means.select(group_col, "__m1", "__m2", "__my")),
        group_col,
    ).select(
        F.col(group_col),
        (F.col("__x1").cast("double") - F.col("__m1")).alias("__d1"),
        (F.col("__x2").cast("double") - F.col("__m2")).alias("__d2"),
        (F.col("__y").cast("double") - F.col("__my")).alias("__dy"),
    )
    d386 = "decimal(38,6)"
    g = centered.groupBy(group_col).agg(
        F.sum(_pin(F.col("__d1") * F.col("__d1")).cast(d386))
        .cast("double")
        .alias("__a11"),
        F.sum(_pin(F.col("__d2") * F.col("__d2")).cast(d386))
        .cast("double")
        .alias("__a22"),
        F.sum(_pin(F.col("__d1") * F.col("__d2")).cast(d386))
        .cast("double")
        .alias("__a12"),
        F.sum(_pin(F.col("__d1") * F.col("__dy")).cast(d386))
        .cast("double")
        .alias("__c1"),
        F.sum(_pin(F.col("__d2") * F.col("__dy")).cast(d386))
        .cast("double")
        .alias("__c2"),
    )
    g = g.join(F.broadcast(means), group_col)
    det = F.col("__a11") * F.col("__a22") - F.col("__a12") * F.col("__a12")
    b1 = (
        F.col("__c1") * F.col("__a22") - F.col("__c2") * F.col("__a12")
    ) / det
    b2 = (
        F.col("__c2") * F.col("__a11") - F.col("__c1") * F.col("__a12")
    ) / det
    ok = det > 0
    b1p = F.when(ok, _pin(b1))
    b2p = F.when(ok, _pin(b2))
    b0 = F.when(
        ok,
        _pin(F.col("__my") - _pin(b1) * F.col("__m1") - _pin(b2) * F.col("__m2")),
    )
    return g.select(
        group_col,
        "n",
        b0.alias("beta0"),
        b1p.alias("beta1"),
        b2p.alias("beta2"),
    )
