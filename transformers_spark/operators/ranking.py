"""Scale-safe global ranking primitives.

A plain ``row_number() OVER (ORDER BY ...)`` (or NTILE) with no
PARTITION BY compiles to a SinglePartition exchange — every row funnels
through one task's sort. Fine at thousands of rows, a cliff at
hundreds of millions. These helpers compute the SAME numbers with a
two-phase plan that stays parallel:

1. ``repartitionByRange`` on the sort key — each partition holds a
   contiguous key range, partitions in key order;
2. ``row_number`` partitioned by ``spark_partition_id()`` — a local
   sort per partition, never a global one;
3. one tiny aggregate (a row per partition) prefix-summed INSIDE the
   plan (a window over the |partitions|-row count frame) and
   broadcast-joined back; local rank + offset = exact global rank.

The offsets deliberately stay distributed — an earlier version
collected them driver-side, which cost one extra Spark ACTION per
call (a full job round-trip: schedule + AQE re-plan + py4j) on top of
the final query's own. The per-query job floor is ~150-300 ms/job
locally (FLOOR_r12.json) and a driver sync point at any scale, while
the in-plan window runs over a frame the size of the partition count.

The sort key must be a TOTAL order (include a unique tie-break
column); with a total order the global rank is independent of where
the sampled range boundaries land.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import cache

__all__ = [
    "global_row_number",
    "with_global_ntile",
    "ntiles_wide",
    "grouped_ntile",
    "grouped_row_number",
]


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "__rn",
    num_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Attach an exact 1-based global row number under ``order_by``
    (which must be a total order) without a single-partition sort.
    ``total_col`` additionally attaches the global row COUNT as a
    column — it falls out of the same per-partition count frame as
    the offsets, no extra pass.

    The returned frame is persisted (tracked via ``cache.track`` for
    release after materialization): the offset subtree and the main
    plan both consume the range partitioning, whose sampled
    boundaries are not guaranteed stable across recomputes; the cache
    makes both read ONE evaluation.
    """
    # No explicit partition count unless asked: REPARTITION_BY_NUM pins
    # the exchange and defeats AQE, which otherwise coalesces a small
    # input to a handful of partitions (each partition costs a local
    # sort task + one offset row) and splits/sizes a 100 TB one.
    ranged = (
        df.repartitionByRange(num_partitions, *order_by)
        if num_partitions
        else df.repartitionByRange(*order_by)
    ).withColumn("__pid", F.spark_partition_id())
    local = W.partitionBy("__pid").orderBy(*order_by)
    with_rn = cache.track(
        ranged.withColumn("__lrn", F.row_number().over(local)).persist()
    )
    counts = with_rn.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    # prefix-sum the per-partition counts in-plan: the frame has one
    # row per range partition, so the single-partition window is over
    # |partitions| rows, never data
    prior = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    sel = [
        F.col("__pid").alias("__pid_o"),
        F.coalesce(F.sum("__c").over(prior), F.lit(0)).alias("__off"),
    ]
    if total_col is not None:
        sel.append(
            F.sum("__c")
            .over(
                W.orderBy("__pid").rowsBetween(
                    W.unboundedPreceding, W.unboundedFollowing
                )
            )
            .cast("bigint")
            .alias(total_col),
        )
    offs = counts.select(*sel)
    return (
        with_rn.join(F.broadcast(offs), F.col("__pid") == F.col("__pid_o"))
        .withColumn(out_col, (F.col("__lrn") + F.col("__off")).cast("bigint"))
        .drop("__pid", "__pid_o", "__lrn", "__off")
    )


def _with_ntile_from_total(
    df: DataFrame, rn_col: str, total_col: str, out_col: str, k: int
) -> DataFrame:
    """NTILE(k) from a row-number column and a (per-row) total COLUMN,
    by the SQL-standard rule both Spark and DuckDB implement: with
    ``total = k*base + rem`` rows, the first ``rem`` buckets hold
    ``base+1`` rows, the rest ``base``. All bigint ``div`` arithmetic
    (never float division, whose round-then-truncate can be off by one
    near exact integer quotients). When base = 0, thr == total so the
    first CASE arm always applies and the ELSE's div-by-zero is never
    evaluated (CASE is lazy in both Spark and the SQL standard)."""
    ntile_sql = (
        f"CAST(CASE WHEN {rn_col} <= __thr THEN ({rn_col} + __base) div (__base + 1) "
        f"ELSE __rem + ({rn_col} - __thr + __base - 1) div __base END AS INT)"
    )
    return (
        df.withColumn("__base", F.expr(f"{total_col} div {k}"))
        .withColumn("__rem", F.expr(f"{total_col} % {k}"))
        .withColumn("__thr", F.expr("__rem * (__base + 1)"))
        .withColumn(out_col, F.expr(ntile_sql))
        .drop("__base", "__rem", "__thr")
    )


def with_global_ntile(
    df: DataFrame,
    order_by: list[Column],
    out_col: str,
    k: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach ``NTILE(k) OVER (ORDER BY order_by)`` — bit-identical to
    the window function, computed via :func:`global_row_number` so the
    plan has no SinglePartition exchange (and, like it, no driver
    collect: the total rides along as a column)."""
    rn = f"__rn_{out_col}"
    tot = f"__total_{out_col}"
    ranked = global_row_number(
        df, order_by, out_col=rn, num_partitions=num_partitions, total_col=tot
    )
    return _with_ntile_from_total(ranked, rn, tot, out_col, k).drop(rn, tot)


def ntiles_wide(
    df: DataFrame,
    id_col: str,
    dims: list[tuple[str, Column]],
    k: int = 4,
) -> DataFrame:
    """Exact ``NTILE(k)`` over SEVERAL orderings of the same frame in
    ONE two-phase pass — (id, ntile_1, ..., ntile_d) wide result.

    ``dims`` is ``[(out_col, ascending_sort_key)]``; encode DESC by
    negating the key. Keys are cast to double for the cross-dimension
    union, so they must be exactly double-representable (ints < 2^53,
    decimals with ≤ 15 significant digits) and non-null; ties break by
    ``id_col`` ascending, which also makes the order total.

    Why not d calls to :func:`with_global_ntile`: each call is a
    shuffle + persist of its own copy of the input. Tagging each
    dimension by posexplode position and range-partitioning on
    (dim, key, id) ranks ALL dimensions with one shuffle and one
    in-plan prefix-sum (over |partitions| x d count rows), then pivots
    back map-side — at large scale it is ONE pass over the input (the
    generator fans rows d ways map-side) instead of d.
    """

    def _checked_key(out: str, key: Column) -> Column:
        # Enforce the documented contract JVM-side (no extra pass): the
        # key must be non-null and exactly double-representable, i.e.
        # round-trip through double back to its own type unchanged.
        # This is an identity for float/double keys (Spark evaluates
        # NaN = NaN as true, so NaN keys pass and sort last as usual),
        # catches integral keys >= 2^53, and catches decimals whose
        # digits don't survive the double cast — two distinct decimals
        # colliding on one double cannot both round-trip.
        kd = key.cast("double")
        ktype = df.select(key.alias("__k")).schema[0].dataType
        guard = F.assert_true(
            key.isNotNull() & (kd.cast(ktype) == key),
            F.lit(
                f"ntiles_wide: sort key for {out!r} must be non-null and "
                "exactly double-representable (round-trips through double)"
            ),
        )
        # coalesce forces guard evaluation (assert_true yields NULL or
        # raises); a when(cond, kd).otherwise(kd) form would be folded
        # away by SimplifyConditionals, silently dropping the check
        return F.coalesce(guard.cast("double"), kd)

    # posexplode, NOT a union of d per-dimension legs: each union leg
    # re-evaluates the INPUT PLAN (for customer_rfm_segments that was
    # d = 3 full orders aggregations — no exchange reuse fires across
    # union branches), while one generator row-expands a single
    # evaluation into the identical (__dim, __key, id) rows. The
    # position IS the dimension index, matching enumerate(dims).
    u = df.select(
        F.posexplode(
            F.array(*[_checked_key(out, key) for out, key in dims])
        ).alias("__dim", "__key"),
        F.col(id_col),
    )
    order = [F.asc("__dim"), F.asc("__key"), F.asc(id_col)]
    ranged = u.repartitionByRange(*order).withColumn(
        "__pid", F.spark_partition_id()
    )
    local = W.partitionBy("__pid", "__dim").orderBy(F.asc("__key"), F.asc(id_col))
    with_rn = cache.track(
        ranged.withColumn("__lrn", F.row_number().over(local)).persist()
    )
    counts = with_rn.groupBy("__pid", "__dim").agg(
        F.count(F.lit(1)).alias("__c")
    )
    # per-dimension in-plan prefix sum over the tiny count frame (one
    # row per (partition, dim)); every dimension ranks the same rows,
    # so the per-dim __total all agree — carrying it as a column is
    # exactly the old driver-side single total
    prior = (
        W.partitionBy("__dim").orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    )
    offs = counts.select(
        F.col("__pid").alias("__pid_o"),
        F.col("__dim").alias("__dim_o"),
        F.coalesce(F.sum("__c").over(prior), F.lit(0)).alias("__off"),
        F.sum("__c")
        .over(W.partitionBy("__dim"))
        .cast("bigint")
        .alias("__total"),
    )
    rn = "__gnt_rn"
    scored = _with_ntile_from_total(
        with_rn.join(
            F.broadcast(offs),
            (F.col("__pid") == F.col("__pid_o"))
            & (F.col("__dim") == F.col("__dim_o")),
        ).withColumn(rn, (F.col("__lrn") + F.col("__off")).cast("bigint")),
        rn,
        "__total",
        "__q",
        k,
    )
    return scored.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("__dim") == i, F.col("__q"))).alias(out)
            for i, (out, _key) in enumerate(dims)
        ]
    )


def grouped_ntile(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    out_col: str,
    k: int = 4,
) -> DataFrame:
    """Exact ``NTILE(k) OVER (PARTITION BY group ORDER BY ...)`` for
    LOW-cardinality groups with LARGE membership — the case where the
    plain window is a scale cliff (each group funnels through ONE
    task's sort; 5 market segments at 10^9 customers = five
    200M-row single-task sorts).

    Two-phase like :func:`global_row_number`, but the offsets stay
    DISTRIBUTED: range-partition on (group, order), rank locally per
    (partition, group), then prefix-sum the tiny per-(partition, group)
    count frame with a window over partition ids and join it back — no
    driver collect at any group cardinality, and per-group totals ride
    along as a column for the NTILE arithmetic.

    For HIGH-cardinality groups with small membership, use the plain
    window — each group already fits one task and this machinery buys
    nothing.
    """
    ranked = grouped_row_number(
        df, group_cols, order_by, rn_col="__rn", total_col="__total"
    )
    return _with_ntile_from_total(ranked, "__rn", "__total", out_col, k).drop(
        "__total", "__rn"
    )


def grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    rn_col: str = "__rn",
    total_col: str = "__total",
) -> DataFrame:
    """Exact 1-based ``ROW_NUMBER() OVER (PARTITION BY group ORDER BY
    ...)`` plus the group's row count as a column, without funneling
    any group through a single task (see :func:`grouped_ntile` for
    when this matters). ``order_by`` must be a total order within each
    group. The distribution functions all derive from it: with a
    unique order, RANK == ROW_NUMBER, ``percent_rank = (rn-1)/(N-1)``,
    ``cume_dist = rn/N``."""
    gcols = [F.col(c) for c in group_cols]
    ranged = df.repartitionByRange(*gcols, *order_by).withColumn(
        "__pid", F.spark_partition_id()
    )
    local = W.partitionBy("__pid", *group_cols).orderBy(*order_by)
    with_rn = cache.track(
        ranged.withColumn("__lrn", F.row_number().over(local)).persist()
    )
    counts = with_rn.groupBy("__pid", *group_cols).agg(
        F.count(F.lit(1)).alias("__c")
    )
    prior = (
        W.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = counts.select(
        F.col("__pid").alias("__pid_o"),
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        F.coalesce(F.sum("__c").over(prior), F.lit(0)).alias("__off"),
        F.sum("__c").over(W.partitionBy(*group_cols)).alias(total_col),
    )
    # NULL-SAFE join back: PARTITION BY treats NULL group keys as one
    # ordinary group, so the offset join must too — a plain equi-join
    # would silently DROP every null-keyed row (null never equals null).
    # EqualNullSafe is still an equi-join key for Spark's hash joins.
    cond = F.col("__pid") == F.col("__pid_o")
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__g_{c}"))
    return (
        with_rn.join(offs, cond)
        .withColumn(rn_col, (F.col("__lrn") + F.col("__off")).cast("bigint"))
        .drop("__pid", "__pid_o", "__lrn", "__off",
              *[f"__g_{c}" for c in group_cols])
    )
