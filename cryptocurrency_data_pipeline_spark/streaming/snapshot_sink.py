"""Streaming sink into a versioned copy-on-write snapshot table.

The missing half of the table-format story for streams: ``foreachBatch``
sinks either append (at-least-once duplicates on replay) or need an
epoch-partitioned layout (``pipeline.process_micro_batch_exactly_once``).
This sink instead maintains a KEYED CURRENT-STATE table — latest row per
key, the reference's DynamoDB ``put_item`` upsert semantics
(streaming/consumer.py's per-record table writes) rendered as a
lakehouse table:

* the table is partitioned by a KEY-DERIVED hash bucket, so a key lives
  in one partition forever — partitioning current state by event date
  would strand a stale row in yesterday's partition every time a key's
  newest record crosses a day boundary (merge only reads the partitions
  the batch touches).  The bucket count and partition column are
  recorded in a ``_sink_meta.json`` sidecar and VALIDATED on every
  batch: silently changing ``n_buckets`` would move keys between
  buckets and resurrect the stranded-row bug;
* each micro-batch is reduced to its latest row per key (one in-batch
  window, deterministic tiebreak), rows ordered strictly below the
  stored state's ``(order_col, *tiebreak)`` tuple are discarded (late
  files — including a redelivered tie-LOSER — cannot regress a key;
  equal tuples re-merge and skip_unchanged withdraws them), then the
  rest row-level MERGE into the current snapshot
  (:func:`maintenance.merge_into_snapshot`) — only touched buckets
  rewritten, everything else inherited by reference;
* replays are version-stable: equal-or-newer replay rows re-merge to
  identical content and ``skip_unchanged=True`` withdraws the publish,
  so a crash between sink write and checkpoint commit does not mint
  duplicate versions (and never duplicates ROWS — merge is idempotent
  by key);
* every published version remains time-travel readable, so a downstream
  consumer can diff consecutive versions (``snapshot_changes``) instead
  of re-reading the table — a change feed OVER a stream sink.

Scale shape: the merge reads only touched buckets of the current version
(partition-pruned), the in-batch dedup shuffles one micro-batch, and
manifest work is O(partitions) on the driver.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching, maintenance, silver


def key_bucket(keys: Sequence[str], n_buckets: int = 16):
    """Stable partition for a key: ``pmod(xxhash64(keys), n)``.  The
    same expression on any engine/day puts the key in the same bucket."""
    return F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")


def _sink_meta_path(table_path: str) -> str:
    return os.path.join(table_path, "_sink_meta.json")


def _check_sink_meta(table_path: str, meta: dict) -> None:
    """Record the sink's layout contract on first contact; afterwards a
    mismatch (changed ``n_buckets``, changed ``part_col``) fails fast
    with a migration hint instead of silently splitting keys."""
    path = _sink_meta_path(table_path)
    if not os.path.exists(path):
        os.makedirs(table_path, exist_ok=True)
        # Durable write: a torn meta file would fail every later batch's
        # contract check and every lookup until manually repaired.
        maintenance.write_json_durable(path, meta)
        return
    with open(path) as f:
        recorded = json.load(f)
    if recorded != meta:
        raise ValueError(
            f"snapshot-sink layout mismatch: table was created with "
            f"{recorded}, this job passes {meta}; changing the bucket "
            f"count or partition column moves keys between partitions "
            f"and strands stale rows — rebuild the table (full rewrite) "
            f"to migrate"
        )


def merge_batch_into_snapshot(
    batch: DataFrame,
    table_path: str,
    keys: Sequence[str],
    part_col: str,
    order_col: str,
    tiebreak: Sequence[str] = (),
    stats_out: dict | None = None,
) -> int:
    """One micro-batch → at most one new snapshot version.

    Reduces the batch to its latest row per ``keys`` (``tiebreak``
    breaks ``order_col`` ties deterministically — pass one, or a
    replayed tied batch may flip winners and mint a spurious version),
    drops rows strictly below the key's stored ``(order_col, *tiebreak)``
    tuple (late files cannot regress a key; equal tuples pass and the
    no-op publish is withdrawn),
    seeds the table on first contact, then MERGEs.  ``part_col`` must be
    key-derived (see :func:`key_bucket`): a key must never move between
    partitions.  Returns the table's current version after the call.

    Rows with a NULL ``order_col`` are dropped up front: a null-ordered
    row could SEED a key on first contact but could never supersede or
    be superseded afterwards (the stored-tuple comparison is null), so
    seed and steady-state behavior would disagree — an unparseable event
    time is DLQ material upstream, never current state.  The drop is
    OBSERVABLE, never silent: the count is warn-logged per batch and
    written to ``stats_out["null_order_dropped"]`` when a dict is
    passed, so an upstream time-parse regression (suddenly every row
    NULL) surfaces as a signal instead of a quietly empty table.  The
    count shares ONE map-only aggregate with the empty-batch check
    (``n_valid == 0`` replaces the old ``latest.isEmpty()`` action), so
    observability costs a lightweight batch scan, not an extra job per
    micro-batch.  (Not the Observation API: its metrics row is
    unreachable when the observed subtree's action returns empty —
    AQE prunes the CollectMetrics node — which is exactly the all-NULL
    batch this counter must report on.)"""
    # One map-side aggregate carries the NULL-order counter, the
    # empty-batch check AND the touched-partition set (collect_set over
    # the valid rows' directory-string partition key — partition_key_expr
    # never returns NULL, so nothing is silently dropped): the set used
    # to cost a dedicated distinct+collect job per micro-batch.
    counts = batch.agg(
        F.count(F.when(F.col(order_col).isNull(), 1)).alias("n_null"),
        F.count(F.col(order_col)).alias("n_valid"),
        F.collect_set(
            F.when(
                F.col(order_col).isNotNull(),
                maintenance.partition_key_expr(part_col),
            )
        ).alias("touched"),
    ).collect()[0]
    touched = list(counts["touched"])
    n_null_order = int(counts["n_null"])
    if n_null_order:
        import logging

        logging.getLogger(__name__).warning(
            "merge_batch_into_snapshot(%s): dropped %d rows with NULL %s "
            "(unparseable event time is DLQ material upstream — route it "
            "there; a sudden spike here means a time-parse regression)",
            table_path,
            n_null_order,
            order_col,
        )
    if stats_out is not None:
        stats_out["null_order_dropped"] = n_null_order
    batch = batch.filter(F.col(order_col).isNotNull())
    latest = caching.persist(silver.dedup_latest(batch, keys, order_col, tiebreak))
    try:
        if counts["n_valid"] == 0:
            man = maintenance._load_manifest(table_path)
            return man["current"]
        if not os.path.exists(os.path.join(table_path, "_versions.json")):
            return maintenance.write_snapshot(
                latest, table_path, part_col=part_col
            )
        man = maintenance._load_manifest(table_path)
        prev = man["snapshots"].get(str(man["current"])) or {}
        if prev.get("part_col") and prev["part_col"] != part_col:
            raise ValueError(
                f"table is partitioned on {prev['part_col']!r} but this "
                f"sink passes part_col={part_col!r}; the partitioning "
                f"scheme of a current-state table cannot change in place "
                f"— rebuild the table to migrate"
            )
        spark = latest.sparkSession
        # ONE assembled current-version read per merge cycle (r15),
        # pruned to the TOUCHED partitions: the late-data guard's
        # `stored` projection and the merge's `existing` side both scan
        # it, and it is injected into merge_into_snapshot via
        # `current=` so the manifest load + union assembly happens once
        # per cycle.  Deliberately NOT persisted (r15 interleaved
        # hermetic A/B on the replay fixture: min 4.66 s unpersisted vs
        # 5.31 s persisted): the cache write + its extra AQE stage-jobs
        # cost more than recomputing a partition-pruned parquet scan.
        current = maintenance.read_snapshot(spark, table_path).where(
            maintenance.partition_predicate(part_col, touched)
        )
        # Dtype-drift guard FIRST (pure metadata — no executor work
        # before failing fast): xxhash64 is TYPE-sensitive (the same
        # numeric value buckets differently as int vs long), so a batch
        # whose key column type drifted re-buckets every key — the
        # stored row is in the old bucket, the pruned lookup below
        # misses it, and the key ends up current in TWO partitions.
        # Order/tiebreak drift breaks the stored-tuple comparison the
        # same silent way.
        cur_types = dict(current.dtypes)
        new_types = dict(latest.dtypes)
        drift = {
            c: (new_types.get(c), cur_types[c])
            for c in [*keys, part_col, order_col, *tiebreak]
            if c in cur_types and new_types.get(c) != cur_types[c]
        }
        if drift:
            raise ValueError(
                f"batch column types drifted from the stored table for "
                f"key/partition/order columns {drift} (batch_type, "
                f"stored_type); a drifted key type re-buckets keys and "
                f"strands stale rows — cast the batch to the table's "
                f"types upstream"
            )
        # Late-data guard: a delayed file must not regress a key.  The
        # comparison uses the full (order_col, *tiebreak) tuple — a
        # redelivered tie-LOSER compares strictly below the stored
        # winner and is discarded; an exact replay compares equal,
        # re-merges identical content, and skip_unchanged withdraws the
        # publish.  Current rows for the touched partitions only
        # (partition-pruned scan), keyed lookup of the stored tuple.
        ord_tuple = F.struct(order_col, *tiebreak)
        stored = (
            current.where(maintenance.partition_predicate(part_col, touched))
            .select(*keys, ord_tuple.alias("__stored_ord"))
        )
        fresh = caching.persist(
            latest.join(stored, list(keys), "left")
            .where(
                F.col("__stored_ord").isNull()
                | (ord_tuple >= F.col("__stored_ord"))
            )
            .drop("__stored_ord")
            .select(*latest.columns)
        )
        try:
            # The dedicated fresh.isEmpty() job is skipped when the
            # batch's column list matches the table's recorded one
            # (r15, the common steady-state case): an empty `fresh`
            # then makes the merged frame content- AND schema-equal to
            # the current partitions, so the skip_unchanged fingerprint
            # pre-scan withdraws the publish — the same answer the
            # early return gave, without a per-batch driver job spent
            # on the COMMON non-empty case.  A batch whose columns
            # DIFFER (schema evolution, or a stale replay from an old
            # producer) keeps the explicit emptiness check: an
            # all-stale batch must never re-publish the table under its
            # own column order.
            same_cols = list(latest.columns) == prev.get("columns")
            if not same_cols and fresh.isEmpty():
                return maintenance._load_manifest(table_path)["current"]
            return maintenance.merge_into_snapshot(
                fresh, table_path, keys, skip_unchanged=True,
                touched=set(touched), current=current,
            )
        finally:
            caching.release(fresh)
    finally:
        caching.release(latest)


def stream_ticks_to_snapshot(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint: str,
    available_now: bool = True,
    n_buckets: int = 16,
):
    """Wire the tick file-harness source into the snapshot-table sink:
    current state keyed by ``coin_id``, partitioned by key bucket."""
    from cryptocurrency_data_pipeline_spark.streaming.pipeline import (
        read_tick_stream,
    )

    _check_sink_meta(
        table_path,
        {"part_col": "bucket", "n_buckets": n_buckets, "keys": ["coin_id"]},
    )

    def body(batch: DataFrame, _epoch: int) -> None:
        ticks = batch.filter(F.col("coin_id").isNotNull()).withColumn(
            "bucket", key_bucket(["coin_id"], n_buckets)
        )
        merge_batch_into_snapshot(
            ticks,
            table_path,
            ["coin_id"],
            part_col="bucket",
            order_col="event_time",
            tiebreak=["raw_data"],
        )

    writer = (
        read_tick_stream(spark, source_dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(checkpoint, "snap-sink"))
        .foreachBatch(body)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def lookup_current(spark: SparkSession, table_path: str, key_values) -> DataFrame:
    """Point-lookup specific keys in the current-state table, reading
    ONLY their key-derived bucket partitions — the reference's DynamoDB
    ``get_item`` (streaming/consumer.py per-key reads) over the
    lakehouse table: the recorded layout contract (``_sink_meta.json``)
    gives the bucket function, so a K-key lookup plans a scan over at
    most K buckets out of ``n_buckets``, never the table.

    ``key_values``: iterable of key tuples (or bare scalars for a
    single-column key).  Returns current rows for the keys that exist;
    missing keys simply produce no row."""
    try:
        with open(_sink_meta_path(table_path)) as f:
            meta = json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"{table_path!r} has no _sink_meta.json layout contract — "
            f"lookup_current only works on tables written by the snapshot "
            f"sink (the bucket function must be known to prune)"
        ) from None
    keys, n_buckets, part_col = meta["keys"], meta["n_buckets"], meta["part_col"]
    rows = [
        (v,) if not isinstance(v, (tuple, list)) else tuple(v)
        for v in key_values
    ]
    current = maintenance.read_snapshot(spark, table_path)
    if not rows:
        # Zero probe keys → zero rows, same schema — createDataFrame
        # cannot infer a schema from an empty list, so short-circuit.
        return current.where(F.lit(False))
    # Cast the probe to the TABLE's key dtypes before bucketing:
    # xxhash64 is type-sensitive (5 as int and 5 as long land in
    # different buckets), and createDataFrame infers Python ints as
    # long — probing an int-keyed table without the cast would prune to
    # the WRONG buckets and silently return no rows.  The stored column
    # type is what the sink hashed at write time (merge_batch_into_
    # snapshot rejects dtype drift), so it is the authoritative hash
    # input type.
    cur_types = {f.name: f.dataType for f in current.schema.fields}
    missing = [k for k in keys if k not in cur_types]
    if missing:
        raise ValueError(
            f"recorded key columns {missing} not present in the current "
            f"snapshot schema {list(cur_types)} — the table no longer "
            f"matches its _sink_meta.json layout contract"
        )
    raw = spark.createDataFrame(rows, list(keys))
    raw_types = {f.name: f.dataType for f in raw.schema.fields}
    # Round-trip guard on every key component: try_cast avoids ANSI
    # throws on out-of-range probes, but a LOSSY cast (3.7 → int 3)
    # would silently answer the point lookup with a DIFFERENT key's
    # row — so a probe row survives only if casting to the key type and
    # back reproduces the caller's value exactly.  A value that cannot
    # round-trip can match nothing; it is dropped, not truncated.
    keep = None
    for k in keys:
        c = F.col(k).try_cast(cur_types[k])
        ok = c.cast(raw_types[k]).eqNullSafe(F.col(k))
        keep = ok if keep is None else (keep & ok)
    probe = (
        raw.where(keep)
        .select(*[F.col(k).try_cast(cur_types[k]).alias(k) for k in keys])
        # A null key component can never match stored state (the semi-
        # join is null-rejecting) — and xxhash64 SKIPS null inputs
        # (returns its seed, not null), so keeping the row would prune
        # IN one spurious bucket partition per failed-cast probe.
        .na.drop("any", subset=list(keys))
    )
    # The SAME bucket expression the sink writes with, evaluated on the
    # probe keys; the distinct bucket list then prunes the snapshot read
    # at planning (partition-only predicate over the assembled scans).
    buckets = [
        r[0]
        for r in probe.select(
            key_bucket(keys, n_buckets).cast("string").alias("b")
        ).distinct().collect()
    ]
    pruned = current.where(maintenance.partition_predicate(part_col, buckets))
    return pruned.join(F.broadcast(probe.distinct()), list(keys), "left_semi")
