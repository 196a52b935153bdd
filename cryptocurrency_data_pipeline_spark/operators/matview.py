"""Incremental materialized rollups with mergeable partial state.

The 100 TB pattern the reference's gold layer gestures at
(glue/data_aggregate_gold.py recomputes its daily aggregates from the
full Silver scan every run): keep ONE partial-aggregate row per
(partition, key) whose state is algebraic — count, integer-cent sum,
min, max, and an Apache DataSketches HLL sketch for distinct keys
(``hll_sketch_agg``, Spark 3.5+).  Partials merge associatively
(``sum``/``min``/``max``/``hll_union_agg``), so:

- a NEW day of data touches exactly one partition of the partials table
  (dynamic partition overwrite — no full recompute, no read of other
  days), and
- ANY date-range query is answered by merging the range's partial rows
  — O(days × keys) input instead of a raw rescan, with the distinct
  count still correct across partition boundaries because HLL register
  state is max-mergeable (a plain per-day ``approx_count_distinct``
  column would double-count returning users).

The merge of per-day sketches is bit-equivalent to a single-pass sketch
over the union of the days (same lgConfigK ⇒ same registers), pinned in
tests/test_matview.py.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching

PARTIAL_COLS = ["n_rows", "sum_cents", "min_value", "max_value", "distinct_sketch"]


@contextmanager
def _table_lock(path: str):
    """Exclusive advisory lock serializing epoch writers against the
    compactor (flock — released on process death).  The lock file lives
    BESIDE the table directory, not inside it: compaction swaps the
    directory wholesale, and a lock file inside would be swapped out
    from under its holder, letting two writers hold 'the' lock on
    different inodes."""
    import fcntl

    os.makedirs(os.path.dirname(path.rstrip("/")) or ".", exist_ok=True)
    fd = os.open(f"{path.rstrip('/')}__partials.lock", os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


def _watermark_path(path: str) -> str:
    # Beside the table dir for the same swap-survival reason as the lock.
    return f"{path.rstrip('/')}__compacted_through.json"


def compacted_through(path: str) -> int:
    """Highest epoch id already folded by :func:`compact_partials` (-1 if
    never compacted).  A replayed epoch at or below this mark is already
    represented inside the folded partition and must NOT be re-landed."""
    try:
        with open(_watermark_path(path)) as f:
            return json.load(f)["epoch"]
    except FileNotFoundError:
        return -1


def build_partials(
    df: DataFrame,
    part_col: str,
    keys: list[str],
    value_col: str,
    distinct_col: str,
    lg_k: int = 14,
) -> DataFrame:
    """One partial-aggregate row per (``part_col``, ``keys``): algebraic
    state only, so partials re-aggregate without loss.  Money is
    quantized to integer cents at the leaf (floor(x*100)) — double sums
    are order-sensitive and would make increment-vs-full comparisons
    flaky.  The quantization routes through :func:`quantize.cents` so a
    NaN/Inf measure degrades to NULL instead of ANSI-aborting the
    refresh job (matching the registry-wide contract)."""
    from cryptocurrency_data_pipeline_spark.operators.quantize import cents

    return df.groupBy(part_col, *keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents(value_col)).alias("sum_cents"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.hll_sketch_agg(distinct_col, F.lit(lg_k)).alias("distinct_sketch"),
    )


def _fold_state_aggs() -> list:
    """The one state-preserving fold of ``PARTIAL_COLS`` (counts/sums
    add, min/max fold, sketches union to a still-mergeable sketch) —
    shared by every re-aggregation site so the fold cannot drift from
    the schema."""
    return [
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("sum_cents").cast("long").alias("sum_cents"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.hll_union_agg("distinct_sketch").alias("distinct_sketch"),
    ]


def merge_partials(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Fold partial rows (any subset of partitions — a date range, the
    whole table) down to final aggregates per ``keys``, finalizing the
    sketch into its estimate.  Input size is the partials table, never
    the raw data."""
    return (
        partials.groupBy(*keys)
        .agg(*_fold_state_aggs())
        .select(
            *keys,
            "n_rows",
            "sum_cents",
            "min_value",
            "max_value",
            F.hll_sketch_estimate("distinct_sketch").alias("approx_distinct"),
        )
    )


def write_partials(partials: DataFrame, path: str, part_col: str) -> None:
    """Materialize the partials table partitioned by ``part_col``."""
    (
        partials.write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(path)
    )


def read_partials(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """Read a materialized partials table with its schema pinned from a
    partials PLAN (a zero-cost :func:`build_partials` over the source —
    never executed, only analyzed).  An empty source writes a partials
    directory with no data files, where ``spark.read.parquet`` fails
    schema inference — but "no data yet" (first run of a day, a new
    tenant) must read as ZERO partial rows, not crash the refresh job."""
    return spark.read.schema(like.schema).parquet(path)


def build_histogram_partials(
    df: DataFrame,
    part_col: str,
    keys: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> DataFrame:
    """Mergeable quantile state: per (partition, keys, bin) counts over a
    fixed equi-width binning of ``[lo, hi]`` (values outside clamp to the
    edge bins).  Unlike a per-partition percentile — which cannot be
    re-aggregated — bin counts merge by plain summation, so any subset
    of partitions yields quantiles with error bounded by one bin width.
    The bin edges are part of the state's contract: all partials that
    will ever merge must share (lo, hi, n_bins).  NaN values are
    excluded like nulls (their bin arithmetic is NaN, which a cast
    would silently send to bin 0, dragging every quantile down)."""
    if not n_bins > 0:
        raise ValueError(f"n_bins must be positive, got {n_bins}")
    if not hi > lo:
        raise ValueError(
            f"degenerate histogram bounds: lo={lo} hi={hi} (need hi > lo)"
        )
    width = (hi - lo) / n_bins
    # Clamp in DOUBLE space BEFORE floor/cast: a value far outside
    # [lo, hi] (or +/-inf) would otherwise overflow the int cast, which
    # under ANSI mode (Spark 4 default) kills the whole job instead of
    # landing in the edge bin.  floor(min(x, n-1)) == min(floor(x), n-1)
    # for x >= 0, so the clamp order is value-preserving.
    scaled = (F.col(value_col) - F.lit(lo)) / F.lit(width)
    bin_ = F.floor(
        F.least(F.lit(float(n_bins - 1)), F.greatest(F.lit(0.0), scaled))
    ).cast("int")
    return (
        df.where(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
        )
        .groupBy(part_col, *keys, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantiles(
    partials: DataFrame,
    keys: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> DataFrame:
    """Quantiles from merged histogram partials: for each q, the upper
    edge of the first bin whose cumulative count reaches ``ceil(q·n)`` —
    a deterministic estimate within one bin width of the exact
    q-quantile.  The only window runs over ≤ ``n_bins`` rows per key
    (bounded by construction, never data-sized); everything upstream is
    sum-merged bin counts."""
    width = (hi - lo) / n_bins
    merged = partials.groupBy(*keys, "bin").agg(F.sum("n").alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = merged.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(Window.partitionBy(*keys))
    )
    labels = [_q_label(q) for q in qs]
    if len(set(labels)) != len(labels):
        raise ValueError(f"quantile labels collide: {labels}")
    aggs = [F.sum("n").cast("long").alias("n_values")]
    for q, label in zip(qs, labels):
        target = F.ceil(F.lit(q) * F.col("total"))
        est_bin = F.min(F.when(F.col("cum") >= target, F.col("bin")))
        aggs.append(
            F.round(F.lit(lo) + (est_bin + 1) * F.lit(width), 6).alias(label)
        )
    return cum.groupBy(*keys).agg(*aggs)


def _q_label(q: float) -> str:
    """Column label for quantile ``q``: p50, p95, p99_9 — exact for
    fractional quantiles (int truncation would turn 0.999 into p99 and
    collide 0.56 with 0.565)."""
    s = f"{q * 100:.4f}".rstrip("0").rstrip(".").replace(".", "_")
    return f"p{s}"


def write_epoch_partials(
    batch: DataFrame,
    epoch_id: int,
    path: str,
    keys: list[str],
    value_col: str,
    distinct_col: str,
    lg_k: int = 14,
) -> None:
    """Streaming incremental view maintenance: a ``foreachBatch`` body
    that reduces each micro-batch to partial-aggregate rows and lands
    them under an ``epoch=<id>`` partition with dynamic overwrite.

    Because partials re-aggregate associatively, the reader
    (:func:`read_merged_partials`) folds ALL epochs' rows with
    ``merge_partials`` — per-key distinct counts stay exact-to-the-sketch
    across micro-batch boundaries via HLL union, which a per-batch
    ``approx_count_distinct`` column could never give.  The epoch
    partition also makes crash-replay idempotent (same contract as
    ``streaming.pipeline.process_micro_batch_exactly_once``): a replayed
    batch overwrites its own epoch, never appends beside it.  State per
    epoch is O(keys), so the view grows with time × key-cardinality, not
    with data; fold epochs down with :func:`compact_partials` when the
    epoch count itself gets large.

    Replay idempotency HOLDS ACROSS COMPACTION: an epoch at or below the
    compaction watermark is already represented inside the folded
    partition, so re-landing it (the crash-between-write-and-checkpoint
    replay) would double-count — such epochs are skipped as no-ops.  The
    write runs under the table lock, serializing it against a concurrent
    compaction's read-fold-swap."""
    from cryptocurrency_data_pipeline_spark.sources.tables import (
        dynamic_partition_overwrite,
    )

    partial = build_partials(
        batch.withColumn("__epoch", F.lit(epoch_id).cast("long")),
        "__epoch", keys, value_col, distinct_col, lg_k,
    ).withColumnRenamed("__epoch", "epoch")
    spark = batch.sparkSession
    with _table_lock(path):
        if epoch_id <= compacted_through(path):
            return  # already folded into the compacted partition
        with dynamic_partition_overwrite(spark):
            partial.write.mode("overwrite").partitionBy("epoch").parquet(path)


def read_merged_partials(spark: SparkSession, path: str, keys: list[str]) -> DataFrame:
    """Final aggregates from a streaming partials view: fold every
    epoch's partial rows.  Input is the partials table (epochs × keys
    rows), never the raw stream."""
    return merge_partials(spark.read.parquet(path).drop("epoch"), keys)


def compact_partials(
    spark: SparkSession, path: str, keys: list[str], lg_k: int = 14
) -> int:
    """Fold all epoch partitions into a single epoch-0 partial row per
    key (sketches union losslessly), bounding reader input when the
    epoch count grows.  Applies to the value-partials schema
    (``PARTIAL_COLS``); histogram partials compact by a plain
    per-(keys, bin) re-sum instead.  Uses the snapshot-style rewrite:
    land in a temp dir, swap.  Returns the row count after compaction.

    The ENTIRE read-fold-swap runs under the table lock: a concurrent
    :func:`write_epoch_partials` landing an epoch between the scan and
    the swap would otherwise be deleted with the pre-compaction tree —
    that micro-batch's aggregates silently gone.  Epoch writers block
    for the compaction's duration (rare, operator-initiated).  On
    success the compaction watermark advances to the highest folded
    epoch, which is what keeps replays of folded epochs no-ops."""
    import shutil
    import uuid

    from cryptocurrency_data_pipeline_spark.operators.maintenance import (
        _exchange_dirs,
        write_json_durable,
    )

    with _table_lock(path):
        table = spark.read.parquet(path)
        max_epoch = table.agg(F.max("epoch")).collect()[0][0]
        folded = (
            table
            .drop("epoch")
            .groupBy(*keys)
            .agg(*_fold_state_aggs())
            .withColumn("epoch", F.lit(0).cast("long"))
        )
        tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
        folded.write.partitionBy("epoch").parquet(tmp)
        n = spark.read.parquet(tmp).count()
        # Same swap discipline as maintenance.compact_parquet: atomic
        # renameat2 exchange where the platform has it, rename-aside
        # fallback elsewhere (old data survives a crash; a reader can hit
        # ENOENT only in the fallback's rename window).
        if _exchange_dirs(path, tmp):
            shutil.rmtree(tmp)  # tmp now holds the pre-compaction epochs
        else:
            aside = f"{path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
            os.rename(path, aside)
            os.rename(tmp, path)
            shutil.rmtree(aside)
        if max_epoch is not None:
            write_json_durable(_watermark_path(path), {"epoch": int(max_epoch)})
    return n


def refresh_partition(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    part_col: str,
    keys: list[str],
    value_col: str,
    distinct_col: str,
    lg_k: int = 14,
) -> int:
    """Incremental maintenance: rebuild ONLY the partitions present in
    ``new_rows`` (late or newly-arrived days) via dynamic partition
    overwrite.  Every untouched partition's files stay in place; the
    refresh reads the new rows, never the existing table.  Returns the
    number of partitions rewritten."""
    fresh = build_partials(new_rows, part_col, keys, value_col, distinct_col, lg_k)
    return _overwrite_partitions(spark, fresh, path, part_col)


def upsert_partition(
    spark: SparkSession,
    path: str,
    late_rows: DataFrame,
    part_col: str,
    keys: list[str],
    value_col: str,
    distinct_col: str,
    lg_k: int = 14,
) -> int:
    """Additive incremental maintenance for LATE data: fold newly-arrived
    rows INTO their partitions' existing partial state instead of
    replacing it (``refresh_partition`` is the replace form — use it when
    ``new_rows`` carries a partition's complete data; use this when rows
    trickle in).

    Reads the partials table (O(partitions × keys) rows — never raw
    data), semi-joins it down to the touched partitions, unions in the
    fresh partials and re-folds state-wise: counts/sums add, min/max
    fold, HLL sketches union — which is exactly why the state is
    algebraic.  Untouched partitions' files stay in place (dynamic
    overwrite).  A not-yet-existing table bootstraps from the fresh
    partials alone (first-ever late batch must not crash a pipeline that
    only uses the additive form).  Returns the number of partitions
    rewritten."""
    import os as _os

    from cryptocurrency_data_pipeline_spark.sources.tables import (
        partition_inference_off,
    )

    fresh = build_partials(late_rows, part_col, keys, value_col, distinct_col, lg_k)
    # The fresh aggregation feeds TWO plan branches below (the touched
    # broadcast and the union) — persist it so the most expensive stage
    # (raw-row aggregation) runs once, not twice.
    fresh = caching.persist(fresh)
    try:
        if not _os.path.exists(path):
            return _overwrite_partitions(spark, fresh, path, part_col)
        touched = fresh.select(part_col).distinct()
        # Partition discovery re-infers the partition column's type from
        # its directory values — a string part_col with numeric-looking
        # values ("20240101") would come back as int and poison the
        # unionByName.  Read the raw directory strings (inference off —
        # discovery happens eagerly at read time, so the conf flip is
        # safe to restore) and cast to fresh's declared type, a lossless
        # round-trip of what we wrote.
        part_type = dict(fresh.dtypes)[part_col]
        with partition_inference_off(spark):
            existing_all = spark.read.parquet(path)
        existing_all = existing_all.withColumn(
            part_col, F.col(part_col).cast(part_type)
        )
        # Null-safe semi-join: a null partition value (the
        # __HIVE_DEFAULT_PARTITION__ directory) must still match its own
        # late rows — a plain equality join drops it and the dynamic
        # overwrite would then replace that partition's state with ONLY
        # the fresh partials, silently losing the existing counts.
        existing = existing_all.join(
            F.broadcast(touched),
            existing_all[part_col].eqNullSafe(touched[part_col]),
            "left_semi",
        )
        folded = existing.unionByName(fresh).groupBy(part_col, *keys).agg(
            *_fold_state_aggs()
        )
        return _overwrite_partitions(spark, folded, path, part_col)
    finally:
        caching.release(fresh)


def _overwrite_partitions(
    spark: SparkSession, partials: DataFrame, path: str, part_col: str
) -> int:
    from cryptocurrency_data_pipeline_spark.sources.tables import (
        dynamic_partition_overwrite,
    )

    # Cut the lineage before writing: the frame may READ the path it
    # overwrites (upsert), and the post-write partition count must not
    # re-run the whole build (refresh).  Eager + partials-sized — bounded
    # by partitions × keys.
    partials = caching.checkpoint(partials, eager=True)
    try:
        with dynamic_partition_overwrite(spark):
            partials.write.mode("overwrite").partitionBy(part_col).parquet(path)
        return partials.select(part_col).distinct().count()
    finally:
        caching.release(partials)
