"""Distributed global ranking without a single-partition window.

`ntile(k) OVER (ORDER BY ...)` (no PARTITION BY) makes Spark's WindowExec
move EVERY row to one partition — a driver-killer at corpus scale. But the
ntile index is pure arithmetic on (global rank, total count), and the exact
global rank decomposes:

    global_rank(row) = offset(partition-of-row) + local_rank(row)

after a RANGE repartition on the order key: each partition holds a
contiguous slice of the total order, so a partition-LOCAL row_number plus
the cumulative row count of all earlier partitions IS the exact global
rank. The per-partition counts are a bounded relation (numPartitions rows —
cluster config, not data size), so the offset cumsum is a legitimately tiny
single-partition window and the offset join is a legitimate broadcast.

The ranged relation feeds two consumers (the count branch and the main
branch), so it is lazily persisted: the first action materializes it once
and both branches read the same blocks — this also pins the
`spark_partition_id()` assignment both sides key on (recomputes would
re-read the same shuffle files, so the ids are stable even under cache
eviction). Semantics are IDENTICAL to the window form (equivalence pytest
in tests/test_kernels.py), so oracle SQL can keep using plain
`ntile() OVER (ORDER BY ...)`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel
from pyspark.sql.window import Window

_PID = "__fsr_pid"
_LOCAL = "__fsr_local_rn"
_OFF = "__fsr_offset"
_TOTAL = "__fsr_total"
_RANK = "__fsr_rank"

# Ranged relations persisted by with_global_rank, in creation order. The
# returned DataFrame is lazy, so the function itself can never know when it
# is safe to unpersist; the blocks therefore live until the session ends or
# a caller that has materialized its results calls release_rank_cache().
# Deliberate, bounded leak: one relation per with_global_rank call, each
# sized like its input slice — acceptable for query-at-a-time grading runs,
# releasable for long-lived sessions.
_PERSISTED: list[DataFrame] = []


def release_rank_cache() -> int:
    """Unpersist every relation cached by prior with_global_rank calls.
    Call ONLY after all DataFrames derived from those calls have been
    materialized (collected/written) — unpersisting earlier forfeits the
    stable spark_partition_id assignment the rank join depends on. Returns
    the number of relations released."""
    n = len(_PERSISTED)
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
    return n


def _shuffle_partitions(df: DataFrame) -> int:
    """spark.sql.shuffle.partitions as an int, falling back to the input's
    current partition count when the conf is non-numeric (e.g. "auto" on
    managed distros)."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return max(df.rdd.getNumPartitions(), 1)


def with_global_rank(
    df: DataFrame, *order_cols: str, rank_col: str = "global_rank",
    total_col: str | None = None, num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global row_number over ORDER BY `order_cols`, computed
    distributed (range exchange + bounded offset join). `order_cols` must be
    a TOTAL order (include a unique tiebreak column) for a deterministic
    result, and every order column must be NON-NULL: Spark's ascending sort
    places NULLS FIRST while DuckDB's `ntile(ORDER BY ...)` defaults to
    NULLS LAST, so a nullable order key would silently diverge from the
    oracles (normalize with coalesce() upstream if nulls are possible).
    Optionally emits the total row count as `total_col`.

    Implementation: the global row_number IS the running sum of ones, so
    this delegates to with_global_cumsum (one shared range-exchange +
    bounded-offset scaffold for the whole rank/ntile/cumsum family — a
    mechanism fix lands once)."""
    one = "__fsr_one"
    out = with_global_cumsum(
        df.withColumn(one, F.lit(1).cast("long")), one, *order_cols,
        cumsum_col=rank_col, total_col=total_col,
        num_partitions=num_partitions,
    )
    return out.drop(one)


def ntile_expr(rank_col: str, total_col: str, n_tiles: int) -> F.Column:
    """`ntile(n_tiles)` as pure arithmetic on an exact 1-based global rank
    and the total row count (both from with_global_rank). SQL-standard tile
    sizing: with n rows the first n % n_tiles tiles get one extra row
    (ceil-sized tiles first). Shared by with_global_ntile and any op that
    already carries a rank and wants a tile column for free."""
    t = F.lit(n_tiles).cast("long")
    n, r = F.col(total_col), F.col(rank_col)
    q = (n / t).cast("long")  # floor tile size
    rem = n % t  # number of (q+1)-sized leading tiles
    big_span = (q + 1) * rem  # rows covered by the big tiles
    return F.when(
        r <= big_span, F.ceil(r / (q + 1))
    ).otherwise(rem + F.ceil((r - big_span) / q)).cast("int")


def with_global_ntile(
    df: DataFrame, n_tiles: int, *order_cols: str, tile_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact `ntile(n_tiles) OVER (ORDER BY order_cols)` without a
    single-partition window (tile sizing in ntile_expr)."""
    ranked = with_global_rank(
        df, *order_cols, rank_col=_RANK, total_col=_TOTAL,
        num_partitions=num_partitions,
    )
    return ranked.withColumn(
        tile_col, ntile_expr(_RANK, _TOTAL, n_tiles)
    ).drop(_RANK, _TOTAL)


def with_global_cumsum(
    df: DataFrame, value_col: str, *order_cols: str,
    cumsum_col: str = "cumsum", total_col: str | None = None,
    rank_col: str | None = None, num_partitions: int | None = None,
) -> DataFrame:
    """Exact `sum(value) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)` without a single-partition window — the prefix-sum twin of
    with_global_rank: after the range exchange on the order key, each
    partition's running sum plus the SUM of all earlier partitions' totals
    is the exact global running sum. The per-partition totals are the same
    bounded (numPartitions-row) relation the rank offsets use.

    Same contract as with_global_rank: `order_cols` must be a TOTAL,
    non-null order; `value_col` should be an exact (integer) column so the
    partial-total reassociation is exact — FP values would make the result
    depend on the partition layout. Optionally emits the grand total as
    `total_col`, and — since the ranged pass already has everything the
    exact rank needs — the global row_number as `rank_col` for FREE (one
    range exchange serves both, where composing with_global_rank +
    with_global_cumsum would pay two)."""
    if num_partitions is None:
        nparts = _shuffle_partitions(df)
    else:
        nparts = num_partitions
    ranged = (
        df.repartitionByRange(nparts, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _PERSISTED.append(ranged)
    counts = ranged.groupBy(_PID).agg(
        F.sum(value_col).alias("__fsr_pv"), F.count("*").alias("__fsr_pc")
    )
    # Both offsets windows below are unpartitioned ON PURPOSE: they run
    # over `counts`, at most nparts rows, so one task is the right plan.
    # Spark logs a "No Partition Defined" WARN each time the planner asks
    # for their child distribution, so the count follows the number of
    # (re)plannings, not the data size: bounded, 12 in a cold
    # agg_ks_two_sample run (sf0.1, local[4]). Keep the windows visible —
    # no partitionBy(lit(...)) disguise — so scripts/plan_audit.py still
    # sees them.
    w_prev = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        _PID,
        F.coalesce(F.sum("__fsr_pv").over(w_prev), F.lit(0)).alias(_OFF),
        F.sum("__fsr_pv").over(
            Window.orderBy(_PID).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias(_TOTAL),
        F.coalesce(F.sum("__fsr_pc").over(w_prev), F.lit(0)).alias("__fsr_roff"),
    )
    ow = Window.partitionBy(_PID).orderBy(*order_cols)
    local = ow.rowsBetween(Window.unboundedPreceding, 0)
    out = (
        ranged.withColumn(_LOCAL, F.sum(value_col).over(local))
        .join(F.broadcast(offs), _PID)
        .withColumn(cumsum_col, F.col(_OFF) + F.col(_LOCAL))
    )
    keep = [c for c in df.columns] + [cumsum_col]
    if total_col is not None:
        out = out.withColumn(total_col, F.col(_TOTAL))
        keep.append(total_col)
    if rank_col is not None:
        out = out.withColumn(
            rank_col,
            (F.col("__fsr_roff") + F.row_number().over(ow)).cast("long"),
        )
        keep.append(rank_col)
    return out.select(*keep)
