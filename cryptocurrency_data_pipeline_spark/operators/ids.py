"""Scale-safe global consecutive id assignment.

Assigning ``row_number() OVER (ORDER BY ...)`` ids naively compiles to a
single-partition Window — every row of the table through one task, the
classic 100 TB scale-killer. This module implements the distributed
equivalent (the DataFrame rendering of ``RDD.zipWithIndex``):

1. range-repartition + sort within partitions on the order key, so
   partition *p* holds a contiguous, disjoint key range;
2. tag each row with ``monotonically_increasing_id()`` — whose contract is
   *consecutive from 0 within each partition* (partition id in the high
   bits) — evaluated above the sort, so local id order == key order with
   no per-partition Window and no extra exchange;
3. one tiny aggregation computes per-partition (row count, min local id);
   exclusive prefix offsets come from a window over that O(#partitions)
   frame — the only unpartitioned window in the plan runs over ~32 count
   rows, never the table;
4. each row's id = (local id − partition's min local id) + partition's
   prefix offset, attached by broadcast join on partition id.

The single full-data shuffle is the range exchange; a naive
rank-then-offset formulation pays a second full-data hash exchange
because Catalyst cannot see that range partitions are already
partition-id-clustered. The table is scanned twice (stats pass + id
pass) — the same cost ``zipWithIndex`` pays; there is no one-pass
distributed consecutive-id algorithm without a prior ordering. Ids are
exactly the global rank by ``order_cols`` regardless of where the range
partitioner places its boundaries, provided ``order_cols`` is a total
order (include a unique key as the last column).

No counterpart in the reference (its 100-row frames never need one); this
is the operation a training-data pipeline needs to give every document a
stable dense id before sharding.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching


def with_consecutive_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    id_name: str = "rid",
    start: int = 1,
) -> DataFrame:
    """Add a dense consecutive id column: ``start`` + global rank by
    ``order_cols`` (which must be a total order — no duplicate keys)."""
    # ``parts`` is referenced twice (stats pass + id pass) and
    # repartitionByRange picks its boundaries by SAMPLING — two independent
    # instantiations of the subtree could disagree on boundaries and local
    # ids, corrupting the ranks. persist() collapses both references onto
    # one InMemoryRelation, so the range exchange is evaluated exactly once
    # (and the second pass reads cache instead of rescanning the table —
    # the same materialization RDD.zipWithIndex pays). The cache spills to
    # disk at scale and is released by the ContextCleaner when the result
    # is garbage-collected; callers that loop call caching.release_all.
    parts = caching.persist(
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.spark_partition_id())
    )
    stats = parts.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__n"), F.min("__mid").alias("__mid0")
    )
    # Exclusive prefix sum over partition ids: O(#shuffle-partitions) rows,
    # so the unpartitioned window here is a driver-sized frame by design.
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = stats.select(
        "__pid",
        "__mid0",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        parts.join(F.broadcast(offsets), "__pid")
        .withColumn(
            id_name,
            (F.col("__mid") - F.col("__mid0") + F.col("__off") + F.lit(start)).cast(
                "long"
            ),
        )
        .drop("__pid", "__mid", "__mid0", "__off")
    )


def with_grouped_ranks(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    rank_name: str = "grank",
    count_name: str | None = None,
) -> DataFrame:
    """Per-group 1-based rank by ``order_cols`` (and optionally the group's
    row count) WITHOUT a per-group data window.

    ``row_number() OVER (PARTITION BY g ORDER BY ...)`` puts every row of
    a group through one task — with a handful of large groups (e.g. ~5
    event types) each partition holds ~N/5 raw rows at scale, the same
    100 TB killer as the global window, just divided by the group count.
    This is the grouped generalization of :func:`with_consecutive_ids`:

    1. range-repartition + sort on ``group_cols + order_cols`` — rows of
       one group are contiguous within and ACROSS partitions, balanced by
       data volume rather than by group;
    2. per-(partition, group) stats (count, min local id) — an
       O(#partitions x #groups) frame;
    3. per-group exclusive prefix offsets over that stats frame (the only
       windows in the plan run over stats rows, never data), broadcast
       back and added to the local offset.

    ``group_cols + order_cols`` must be a total order (include a unique
    key last).  The broadcast is O(#partitions x #groups) rows — fine for
    low-cardinality groups; for high-cardinality groups a plain grouped
    window is already balanced and should be used instead.
    """
    keys = [*group_cols, *order_cols]
    parts = caching.persist(
        df.repartitionByRange(*[F.col(c) for c in keys])
        .sortWithinPartitions(*keys)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.spark_partition_id())
    )
    stats = parts.groupBy("__pid", *group_cols).agg(
        F.count(F.lit(1)).alias("__n"), F.min("__mid").alias("__mid0")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = stats.select(
        "__pid",
        *group_cols,
        "__mid0",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__n").over(Window.partitionBy(*group_cols)).alias("__tot"),
    )
    # eqNullSafe on the group columns: the USING-style join's null-unsafe
    # equality would silently drop every row whose group key is NULL
    # (the groupBy above produces a stats row for the NULL group, but the
    # join back would never match it).
    p, o = parts.alias("__p"), F.broadcast(offsets).alias("__o")
    cond = F.col("__p.__pid") == F.col("__o.__pid")
    for c in group_cols:
        cond = cond & F.col(f"__p.{c}").eqNullSafe(F.col(f"__o.{c}"))
    out = p.join(o, cond).select(
        "__p.*", "__o.__mid0", "__o.__off", "__o.__tot"
    ).withColumn(
        rank_name,
        (F.col("__mid") - F.col("__mid0") + F.col("__off") + F.lit(1)).cast("long"),
    )
    if count_name is not None:
        out = out.withColumn(count_name, F.col("__tot").cast("long"))
    return out.drop("__pid", "__mid", "__mid0", "__off", "__tot")


def ntile_from_rank(rank, n, tiles: int = 4):
    """Closed-form ``ntile(tiles)`` from a global 1-based rank and total
    count — the distributed replacement for ``ntile() OVER (ORDER BY ...)``
    (whose plan is a single-partition window): compute the rank with
    :func:`with_consecutive_ids`, then this pure projection.

    ntile semantics: bucket sizes differ by at most one, larger buckets
    first — with q = n div tiles and r = n mod tiles, buckets 1..r hold
    q+1 rows, buckets r+1..tiles hold q.  Integer-exact: the double
    divisions here are correctly-rounded quotients of integers far below
    2^52, so ``ceil`` cannot cross a boundary.
    """
    rank, n = F.col(rank) if isinstance(rank, str) else rank, (
        F.col(n) if isinstance(n, str) else n
    )
    q = F.floor(n / tiles).cast("long")
    r = (n - q * tiles).cast("long")
    cut = r * (q + 1)
    # CASE evaluates lazily per-row, so the otherwise-branch division by q
    # never runs when q == 0 (every row then satisfies rank <= cut = n);
    # greatest() keeps ANSI mode happy anyway.
    return (
        F.when(rank <= cut, F.ceil(rank / (q + 1)))
        .otherwise(r + F.ceil((rank - cut) / F.greatest(q, F.lit(1))))
        .cast("int")
    )
