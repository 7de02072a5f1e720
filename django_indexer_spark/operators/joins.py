"""Join operators — SURVEY.md §2.3 (J1-J9).

The reference's join surface is equi/semi/anti joins (ORM FK traversal +
Exists subqueries) plus ONE nontrivial algorithm: the as-of price lookup
(J6, tokens/models.py:64-74 — find a TokenHistoricalPrice within ±24 h of
the donation timestamp). Everything else maps 1:1 to DataFrame joins and
is used inline by plans/; this module implements the pieces that need
actual design:

- ``as_of_nearest``      — deterministic nearest-within-tolerance as-of join
- ``semi`` / ``anti``    — EXISTS / NOT EXISTS shapes (J4/J5/J7)
- ``fk_join``            — N:1 dim join with automatic broadcast for small dims

Scale notes (100 TB): a naive time-range join compiles to a sort-merge join
with a range residual — or worse, a broadcast nested loop. ``as_of_nearest``
therefore *bucketizes* the time axis: each right row is exploded into the
tolerance-sized buckets it can serve, and the join becomes a pure equi-join
on (key, bucket) that shuffles both sides once and scales linearly. The
right side grows 3x (bucket-1, bucket, bucket+1) — cheap for a price dim,
and still shuffle-friendly for a large one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def semi(left: DataFrame, right: DataFrame, on: Column) -> DataFrame:
    """EXISTS — J4/J5 (accounts/api.py:82-83: accounts having donations)."""
    return left.join(right, on, "left_semi")


def anti(left: DataFrame, right: DataFrame, on: Column) -> DataFrame:
    """NOT EXISTS — J7 (tasks.py:153-161: rows still lacking USD)."""
    return left.join(right, on, "left_anti")


def fk_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Column | str | list[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """N:1 FK join — J1 (select_related, accounts/api.py:351).

    Dimension tables in this domain (tokens, chains, accounts-as-dim) are
    small relative to facts; broadcast by default so the fact side never
    shuffles. Pass broadcast_dim=False for dim tables that are themselves
    fact-scale (then AQE picks sort-merge and can split skew).
    """
    return fact.join(F.broadcast(dim) if broadcast_dim else dim, on, how)


def as_of_nearest(
    left: DataFrame,
    right: DataFrame,
    left_id: str | list[str],
    key: str,
    left_ts: str,
    right_ts: str,
    tolerance_s: int,
    strategy: str = "bucketed",
    direction: str = "nearest",
) -> DataFrame:
    """J6 — nearest-within-±tolerance as-of join, deterministic.

    Semantics: for each left row, attach the right row with the SAME ``key``
    whose ``right_ts`` lies within ±tolerance of ``left_ts`` and is NEAREST
    (|Δt| minimal); ties broken by earlier right_ts. Left rows with no match
    keep NULL right columns (the reference re-selects those next run —
    tasks.py:153-161).

    ``direction`` widens this to the classic as-of family:
      - 'nearest'  (default, the reference's ±window pinned deterministic)
      - 'backward' — latest right row with right_ts <= left_ts (pandas
        merge_asof default; "price as of the trade")
      - 'forward'  — earliest right row with right_ts >= left_ts
    all still within the tolerance, same bucketed shuffle shape.

    The reference takes ``.first()`` of the window with no ORDER BY
    (tokens/models.py:67-73) — an *arbitrary* row. We pin the stricter
    nearest-row semantic (SURVEY.md §7 hard-part (a)) so results are
    reproducible and oracle-checkable.

    strategy='bucketed' (default, the 100 TB path): explode right rows into
    floor(ts/tol) buckets {b-1, b, b+1} and equi-join on (key, bucket) —
    one shuffle each side, no range residual blow-up, AQE-skew-splittable.
    strategy='range': plain conditional join (fine when right broadcasts).

    ``left_id`` must uniquely identify left rows (natural key), so the
    row_number dedup is deterministic.
    """
    if direction not in ("nearest", "backward", "forward"):
        raise ValueError(f"unknown direction {direction!r}")
    left_ids = [left_id] if isinstance(left_id, str) else list(left_id)
    lt = F.col("__l_ts")
    rt = F.col("__r_ts")
    # direction belongs in the JOIN condition: a post-join filter would
    # drop left rows whose only candidates sit on the wrong side, instead
    # of keeping them with NULL right columns
    if direction == "backward":
        dir_pred = rt <= lt
    elif direction == "forward":
        dir_pred = rt >= lt
    else:
        dir_pred = F.lit(True)

    l = left.withColumn("__l_ts", F.col(left_ts).cast("long"))
    r = right.withColumn("__r_ts", F.col(right_ts).cast("long"))
    # prefix right columns to avoid collisions; __r_tb is a content hash of
    # the whole right row, appended to every window order below so two right
    # rows sharing right_ts (two prices at one instant) still yield ONE
    # deterministic pick across runs/engines (full-duplicate ties are
    # value-identical, so the pick is immaterial)
    r = r.select(
        F.col(key).alias("__r_key"),
        "__r_ts",
        F.xxhash64(*[F.col(c) for c in right.columns]).alias("__r_tb"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c != key],
    )

    if strategy == "bucketed":
        l = l.withColumn("__bucket", F.floor(lt / F.lit(tolerance_s)))
        r = r.withColumn(
            "__bucket",
            F.explode(
                F.array(
                    F.floor(rt / F.lit(tolerance_s)) - 1,
                    F.floor(rt / F.lit(tolerance_s)),
                    F.floor(rt / F.lit(tolerance_s)) + 1,
                )
            ),
        )
        cond = (
            (F.col(key) == F.col("__r_key"))
            & (l["__bucket"] == r["__bucket"])
            & (F.abs(lt - rt) <= F.lit(tolerance_s))
            & dir_pred
        )
        joined = l.join(r, cond, "left").drop(r["__bucket"]).drop("__bucket")
    elif strategy == "range":
        cond = (
            (F.col(key) == F.col("__r_key"))
            & (F.abs(lt - rt) <= F.lit(tolerance_s))
            & dir_pred
        )
        joined = l.join(r, cond, "left")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    if direction == "backward":
        order = [rt.desc_nulls_last()]
    elif direction == "forward":
        order = [rt.asc_nulls_last()]
    else:
        order = [F.abs(lt - rt).asc_nulls_last(), rt.asc_nulls_last()]
    order.append(F.col("__r_tb").asc_nulls_last())

    w = Window.partitionBy(*left_ids).orderBy(*order)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__l_ts", "__r_ts", "__r_key", "__r_tb")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-busting equi-join: split each hot LEFT key across ``n_salts``
    shuffle partitions by salting, replicate the RIGHT side once per salt,
    join on (key, salt).

    AQE's skew-join split (on by default, session.py) handles most skew by
    splitting oversized partitions at runtime — prefer it. This explicit
    form is for the pathological case AQE can't fix: ONE key so hot that
    even a split partition exceeds executor memory (the '30% of donations
    are to one pot' shape). Cost model: right side is duplicated
    ``n_salts``× — use only with a small-to-medium right side, and pick
    n_salts ≈ (hot key rows / rows-per-healthy-partition).

    The join key columns are preserved; output equals the unsalted join for
    how in {'inner', 'left'} — the only supported modes. For right/full the
    exploded right side would replicate each UNMATCHED right row n_salts
    times, so those are rejected rather than silently wrong.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'/'left', got {how!r}: "
            "right/full would duplicate unmatched right rows per salt"
        )
    l = left.withColumn("__salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)))
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt")
    r = right.select("*", salts)
    out = l.join(r, [key, "__salt"], how)
    return out.drop("__salt")


def band_join(
    left: DataFrame,
    right: DataFrame,
    l_val: Column,
    r_val: Column,
    delta_cents: int,
    l_keep: list[str],
    r_keep: list[str],
) -> DataFrame:
    """Numeric band join: all (left, right) pairs with
    |l_val − r_val| ≤ δ, WITHOUT a cartesian product — the numeric
    sibling of the as-of join's time bands. ``l_val``/``r_val`` are
    integer columns in the value's smallest unit (cents), ``delta_cents``
    the band half-width in the same unit.

    Technique (bucketized blocking): both sides bucket by
    ``value DIV δ``; a pair within δ can differ by at most one bucket,
    so the left side explodes to its 3 candidate buckets {b−1, b, b+1}
    and an EQUI-join on the bucket id finds every candidate — Catalyst
    gets a plain shuffled hash join keyed by bucket, sized by bucket
    occupancy (3·|L| + |R| rows), never |L|·|R|. The exact |Δ| ≤ δ
    filter then prunes the corner candidates.

    At 100 TB this is the standard inequality-join rewrite: shuffle
    ∝ data, skew bounded by the hottest value bucket (salt the bucket
    id if one value dominates). All-integer arithmetic — bucket ids
    and the band test are exact on any engine."""
    # floor-division bucket (floor(v/δ), not DIV): balances can be
    # negative and truncating division would split the band at zero
    l2 = left.select(
        *[F.col(c) for c in l_keep],
        l_val.alias("__lv"),
    ).withColumn(
        "__b0", F.expr(f"CAST(floor(__lv / {delta_cents}) AS BIGINT)")
    )
    l3 = l2.select(
        *l_keep,
        "__lv",
        F.explode(
            F.array(
                F.col("__b0") - 1, F.col("__b0"), F.col("__b0") + 1
            )
        ).alias("__b"),
    )
    r2 = right.select(
        *[F.col(c) for c in r_keep],
        r_val.alias("__rv"),
    ).withColumn(
        "__b", F.expr(f"CAST(floor(__rv / {delta_cents}) AS BIGINT)")
    )
    return (
        l3.join(r2, "__b")
        .filter(F.abs(F.col("__lv") - F.col("__rv")) <= F.lit(delta_cents))
        .select(
            *l_keep,
            *r_keep,
            F.col("__lv").alias("l_cents"),
            F.col("__rv").alias("r_cents"),
            (F.col("__lv") - F.col("__rv")).alias("diff_cents"),
        )
    )


def grid_join_2d(
    left: DataFrame,
    right: DataFrame,
    l_x: Column,
    l_y: Column,
    r_x: Column,
    r_y: Column,
    radius: int,
    l_keep: list[str],
    r_keep: list[str],
) -> DataFrame:
    """2-D distance join: all (left, right) pairs with Euclidean
    distance ≤ ``radius`` — ``band_join`` lifted to two dimensions,
    i.e. the spatial join primitive (points within r of each other)
    without a cartesian product.

    Technique (grid blocking): both sides land in square cells of side
    ``radius`` (floor(x/r), floor(y/r)); any pair within r sits in the
    same or an adjacent cell, so the left side explodes to its 3×3
    candidate neighborhood and an EQUI-join on the (cx, cy) cell id
    finds every candidate — a plain shuffled hash join sized by cell
    occupancy (9·|L| + |R| rows), never |L|·|R|. The exact integer
    test dx² + dy² ≤ r² then prunes the corner candidates (the 3×3
    block over-covers by the square-vs-circle margin).

    At 100 TB this is the standard spatial-join plan (geohash/S2 cells
    are the same idea on a sphere): shuffle ∝ data, skew bounded by
    the densest cell — shrink the cell side (explode to 5×5) or salt
    the hot cell id if one region dominates. ``l_x``/``l_y``/... must
    be integer columns (e.g. cents, scaled coordinates): cell ids and
    the distance test are then exact on any engine. floor-division
    cells keep negative coordinates' neighborhoods adjacent across
    zero, exactly like band_join's buckets."""
    lx, ly = l_x.alias("__lx"), l_y.alias("__ly")
    l2 = left.select(*[F.col(c) for c in l_keep], lx, ly).withColumns(
        {
            "__cx0": F.expr(f"CAST(floor(__lx / {radius}) AS BIGINT)"),
            "__cy0": F.expr(f"CAST(floor(__ly / {radius}) AS BIGINT)"),
        }
    )
    offs = F.expr(
        "explode(transform(sequence(0, 8), "
        "i -> struct(i DIV 3 - 1 AS dx, i % 3 - 1 AS dy)))"
    )
    l3 = l2.select(
        *l_keep,
        "__lx",
        "__ly",
        "__cx0",
        "__cy0",
        offs.alias("__o"),
    ).select(
        *l_keep,
        "__lx",
        "__ly",
        (F.col("__cx0") + F.col("__o.dx")).alias("__cx"),
        (F.col("__cy0") + F.col("__o.dy")).alias("__cy"),
    )
    r2 = right.select(
        *[F.col(c) for c in r_keep],
        r_x.alias("__rx"),
        r_y.alias("__ry"),
    ).withColumns(
        {
            "__cx": F.expr(f"CAST(floor(__rx / {radius}) AS BIGINT)"),
            "__cy": F.expr(f"CAST(floor(__ry / {radius}) AS BIGINT)"),
        }
    )
    dx = F.col("__lx") - F.col("__rx")
    dy = F.col("__ly") - F.col("__ry")
    dist2 = dx * dx + dy * dy
    return (
        l3.join(r2, ["__cx", "__cy"])
        .filter(dist2 <= F.lit(int(radius) * int(radius)))
        .select(*l_keep, *r_keep, dist2.alias("dist2"))
    )
