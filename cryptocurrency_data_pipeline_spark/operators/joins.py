"""Join operators beyond plain equi-joins: the as-of join.

The reference implements no true joins (SURVEY §2.3) — its star schema
exists to be queried.  These are the time-series lookups that consumption
implies (last-known-price style), built scale-first:

* **as-of join**: union-sort-ffill — tag both sides, union, one window pass
  per key carrying the right side's last value forward, keep left rows.
  ONE shuffle on the key, no per-key range explosion: at 100 TB this beats
  the naive equi-join + range-filter + argmax (quadratic per key) by
  construction.

A range (theta) join needs no operator: an equi-join whose condition also
carries the interval predicate (query ``range_join_conversions``) plans
the equi part as a hash/SMJ join and applies the interval as a post-join
filter, so the blow-up is bounded by the key cardinality.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Sequence[str] = ("value",),
    prefix: str = "asof_",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, append the right side's values as of left_ts
    (per key).  Left-join semantics: unmatched → null.

    ``direction="backward"`` (default): latest right row with
    right_ts <= left_ts.  ``direction="forward"``: earliest right row with
    right_ts >= left_ts.  Both run the same union-sort-ffill plan — ONE
    key shuffle, one window pass; forward just traverses descending.

    Right side should be unique per (key, right_ts); at equal timestamps the
    right row is considered visible to the left row (inclusive semantics,
    matching DuckDB ASOF JOIN).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    keys = [key] if isinstance(key, str) else list(key)
    out_cols = [f"{prefix}{c}" for c in value_cols]

    # NULL join keys never match — SQL equi-join / DuckDB ASOF JOIN
    # semantics, NOT window-partition semantics: the window pass below
    # groups NULL keys into one partition, which would as-of-match
    # unrelated anonymous rows against each other (sfnull class: a
    # saturated null-key population silently cross-filled).  Right rows
    # with a NULL key can match nothing and are dropped up front; left
    # rows with a NULL key are kept with NULL as-of values (mask below).
    key_ok = F.lit(True)
    for k in keys:
        key_ok = key_ok & F.col(k).isNotNull()

    # All value columns travel in ONE struct, null on left rows.  The
    # ignorenulls fill then skips exactly the left rows — NOT right rows
    # whose individual values are null.  Per-column fills would (a) carry
    # a stale older value over a matched row's genuine NULL and (b) with
    # several value_cols stitch fields from DIFFERENT right rows into one
    # result; the struct keeps the matched row atomic, which is what
    # DuckDB ASOF JOIN (the documented semantics) returns.
    r_tag = right.filter(key_ok).select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(
            *[F.col(c).alias(o) for c, o in zip(value_cols, out_cols)]
        ).alias("__r"),
    )
    r_type = r_tag.schema["__r"].dataType
    l_tag = left.select(
        *[F.col(c) for c in left.columns],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r_type).alias("__r"),
    )
    unioned = l_tag.unionByName(r_tag, allowMissingColumns=True)

    # Right rows sort before left rows at equal __ts (side 0 < 1) so an
    # equal-timestamp right value is visible (inclusive). Forward scans
    # the timeline descending, carrying the NEXT right value backward.
    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn("__f", F.last("__r", ignorenulls=True).over(w))
    return filled.filter(F.col("__side") == 1).select(
        *[F.col(c) for c in left.columns],
        *[
            F.when(key_ok, F.col("__f")[o]).alias(o)
            for o in out_cols
        ],
    )
