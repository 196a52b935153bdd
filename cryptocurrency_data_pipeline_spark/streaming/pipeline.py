"""Structured Streaming rewrite of the reference's streaming path.

Reference architecture (streaming/producer.py + consumer.py): EventBridge →
Lambda producer → Kinesis (keyed by coin_id) → Lambda consumer that
per-record decodes base64/JSON, applies threshold rules, and routes to
DynamoDB good/bad tables, SQS, S3 bad-record files, and SNS alerts — all
row-by-row network calls.

Spark-native mapping (SURVEY §2.9):

* source (S8): ``readStream`` over a JSON-lines directory in tests (Kafka in
  prod — same DataFrame surface), ``from_json`` with the explicit
  ``STREAM_TICK`` schema in PERMISSIVE mode; corrupt payloads surface as
  ``_corrupt_record`` (T6) instead of a try/except per record.
* event time (T2): producer's ISO string → ``to_timestamp``.
* rules (P13): the same vectorized reason-array used in batch — one
  expression, no Python.
* routing (T4/T5): ``foreachBatch`` caches each micro-batch once and writes
  good / bad / alert / corrupt sinks as partitioned parquet appends — the
  row-by-row ``put_item``/``send_message`` loops become 4 bulk writes.
* bad-record files (S12/T7): partitioned by ``dt``/``hour`` exactly like the
  reference's ``bad_records/dt=…/hour=…`` S3 keys (consumer.py:106).
* checkpointing (T11): every query runs with ``checkpointLocation`` —
  exactly-once sinks, stronger than the reference's at-least-once Lambda.
* watermark + windows (T8/T9, absent in the reference): tumbling/sliding
  aggregates recompute high_24h/low_24h natively.
* streaming dedup (T10): ``dropDuplicates`` within the watermark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching, silver
from cryptocurrency_data_pipeline_spark.schemas import STREAM_TICK


def decode_tick_payload(
    raw: DataFrame, base64_encoded: bool = False, passthrough: tuple = ()
) -> DataFrame:
    """Shared decode lineage for every tick source: ``raw`` carries one
    string ``value`` column (a file line, a Kafka record value, a Kinesis
    payload) and comes out parsed against the explicit ``STREAM_TICK``
    schema in PERMISSIVE mode — corrupt payloads yield a null struct with
    the raw line preserved (T6), never an exception.

    ``base64_encoded=True`` mirrors Kinesis payload encoding
    (streaming/consumer.py:37 ``base64.b64decode``): values are decoded
    JVM-side with ``unbase64`` before parsing (F13).  Because both the
    file harness and the Kafka reader route through THIS function, the
    downstream plan (routing, windows, dedup, sinks) is byte-identical
    across sources.

    ``passthrough`` names source-metadata columns (e.g. a decoded Kafka
    record key) to carry alongside the parsed payload.
    """
    reserved = {f.name for f in STREAM_TICK.fields} | {"raw_data", "event_time"}
    clash = sorted(set(passthrough) & reserved)
    if clash:
        raise ValueError(
            f"passthrough columns collide with the decoded payload "
            f"surface: {clash}; alias them before decoding"
        )
    payload = (
        F.decode(F.unbase64(F.col("value")), "UTF-8") if base64_encoded else F.col("value")
    )
    parsed = raw.select(
        *passthrough,
        payload.alias("raw_data"),
        F.from_json(payload, STREAM_TICK, {"mode": "PERMISSIVE"}).alias("tick"),
    )
    return parsed.select(
        *passthrough,
        "raw_data",
        "tick.*",
        F.to_timestamp(F.col("tick.timestamp")).alias("event_time"),
    )


def read_tick_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
    base64_encoded: bool = False,
) -> DataFrame:
    """File-source test harness for the Kinesis consumer (S8).

    Reads JSON-lines files as raw strings, then the shared
    :func:`decode_tick_payload` lineage — identical plumbing to a Kafka
    ``value`` column, so swapping the source for ``format("kafka")``
    (:func:`read_tick_stream_kafka`) changes nothing downstream.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return decode_tick_payload(reader.load(source_dir), base64_encoded)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The exact option map handed to ``format("kafka")`` — factored out
    so the offset/data-loss contract is testable without a broker.

    ``starting_offsets`` passes through verbatim: ``"earliest"`` (the
    reference consumer's TRIM_HORIZON), ``"latest"``, or a per-partition
    JSON assignment like ``{"ticks":{"0":42}}`` — Spark's native forms.
    ``fail_on_data_loss`` is stringified to the lowercase form the
    connector expects; False tolerates compacted/expired offsets."""
    if not topic or "," in topic:
        raise ValueError(f"exactly one topic expected, got: {topic!r}")
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }


def read_tick_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    base64_encoded: bool = False,
    fail_on_data_loss: bool = False,
    include_key: bool = False,
) -> DataFrame:
    """Production source (S8): Kafka/MSK stand-in for the reference's
    Kinesis consumer (streaming/consumer.py:35-38 — records keyed by
    coin_id, payload JSON, optionally base64).  The record ``value`` is
    cast to string and fed through the SAME :func:`decode_tick_payload`
    lineage as the file harness, so every downstream operator (routing,
    OHLC windows, dedup, checkpointed sinks) is source-agnostic.

    Requires the ``spark-sql-kafka-0-10`` connector on the classpath
    (``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``);
    without it Spark raises ``[DATA_SOURCE_NOT_FOUND]`` at ``load()``.
    ``fail_on_data_loss=False`` tolerates compacted/expired offsets the
    way the reference's TRIM_HORIZON consumer does.

    ``include_key=True`` additionally surfaces the record key (the
    producer keys records by coin_id — streaming/producer.py mirrors
    consumer.py's partition-key contract) decoded to a ``kafka_key``
    string column ahead of the parsed payload.

    NOTE: no broker or connector jar exists in the test sandbox, so this
    reader is exercised by (a) wire-shaped static frames proving the
    decode lineage is byte-identical to the file harness and (b) the
    option-map contract test — never against a live broker (README
    states the limitation).
    """
    cols = [F.col("value").cast("string").alias("value")]
    passthrough: tuple = ()
    if include_key:
        cols.insert(0, F.col("key").cast("string").alias("kafka_key"))
        passthrough = ("kafka_key",)
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        bootstrap_servers, topic, starting_offsets, fail_on_data_loss
    ).items():
        reader = reader.option(k, v)
    raw = reader.load().select(*cols)
    return decode_tick_payload(raw, base64_encoded, passthrough)


@dataclass
class StreamSinks:
    """Output locations for the 4-way routing (test: local dirs)."""

    good: str
    bad: str
    alert: str
    corrupt: str
    checkpoint: str
    alerts_seen: list = field(default_factory=list)  # optional in-process hook


def split_micro_batch(batch: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(good, bad, alert, corrupt) — pure DataFrame logic, unit-testable
    without a running stream.

    corrupt = unparseable payload (consumer.py:94-102);
    bad = threshold failures with " | "-joined reasons (consumer.py:47-69);
    alert = good rows with pct_change > 10 (consumer.py:86-92).

    A WELL-FORMED payload missing its ``coin_id`` is a data-quality
    failure, not a parse error: it routes to ``bad`` with reason
    ``missing_coin_id``, so the corrupt sink stays a faithful monitor of
    actual parse failures (``try_parse_json`` distinguishes the two —
    the flattened decode surface can't, every field of a failed parse
    is null).
    """
    null_key = batch.filter(F.col("coin_id").isNull())
    is_json = F.try_parse_json(F.col("raw_data")).isNotNull()
    corrupt = null_key.filter(~is_json).select(
        "raw_data",
        F.lit("json_parse_error").alias("error_reason"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss").alias("timestamp"),
    )
    missing_key = null_key.filter(is_json).withColumn(
        "error_reason", F.lit("missing_coin_id")
    )
    parsed = batch.filter(F.col("coin_id").isNotNull())
    good, bad, alert = silver.route_by_rules(parsed, silver.validation_reasons())
    return good, bad.unionByName(missing_key), alert, corrupt


def process_micro_batch(batch: DataFrame, epoch_id: int, sinks: StreamSinks) -> None:
    """foreachBatch body: cache once, 4 bulk writes (replaces the
    reference's per-record put_item / send_message / publish loops)."""
    caching.persist(batch)
    try:
        good, bad, alert, corrupt = split_micro_batch(batch)
        (
            good.drop("raw_data")
            .withColumn("dt", F.to_date("event_time"))
            .write.mode("append")
            .partitionBy("dt")
            .parquet(sinks.good)
        )
        (
            bad.select(
                "raw_data",
                "error_reason",
                F.date_format("event_time", "yyyy-MM-dd").alias("dt"),
                F.date_format("event_time", "HH").alias("hour"),
            )
            .write.mode("append")
            .partitionBy("dt", "hour")
            .json(sinks.bad)
        )
        alert_rows = alert.drop("raw_data")
        alert_rows.write.mode("append").json(sinks.alert)
        corrupt.write.mode("append").json(sinks.corrupt)
    finally:
        caching.release(batch)


def enrich_with_dim(
    ticks: DataFrame, dim: DataFrame, key: str = "coin_id", how: str = "left"
) -> DataFrame:
    """Stream–static enrichment: join the tick stream against a bounded
    dimension table (reference: the consumer hand-looks-up per-record
    metadata, streaming/consumer.py:72-84 — here it's one declarative
    join).

    Stream–static joins need NO watermark or join state: Spark re-plans
    the static side per micro-batch, so a broadcast hint keeps every
    batch a map-side hash join — the dim rides to executors once per
    batch and the stream side never shuffles.  ``left`` keeps unmatched
    ticks flowing (enrichment, not filtering); use ``inner`` to gate the
    stream on dim membership.  The static side may be re-read between
    batches, which is exactly what you want for a slowly-refreshed dim
    dir (new file → next batch sees it) — for frozen dims, cache the
    frame before passing it in."""
    return ticks.join(F.broadcast(dim), key, how)


def process_micro_batch_exactly_once(
    batch: DataFrame, epoch_id: int, sinks: StreamSinks
) -> None:
    """Replay-idempotent foreachBatch body.

    foreachBatch is at-least-once: after a crash between a sink write and
    the checkpoint commit, Structured Streaming REPLAYS the epoch, and the
    append-mode body (``process_micro_batch``) lands the rows twice.  Here
    every sink is partitioned by the (replay-stable) ``epoch_id`` and
    written with dynamic partition overwrite, so a replay replaces its own
    epoch partition instead of appending next to it — the output converges
    to exactly-once without a transactional sink.  Cost: one extra
    low-cardinality partition column; readers still scan the sink root.
    """
    from cryptocurrency_data_pipeline_spark.sources.tables import (
        dynamic_partition_overwrite,
    )

    spark = batch.sparkSession
    with dynamic_partition_overwrite(spark):
        _write_epoch_partitioned_sinks(batch, epoch_id, sinks)


def _write_epoch_partitioned_sinks(
    batch: DataFrame, epoch_id: int, sinks: StreamSinks
) -> None:
    batch = batch.withColumn("epoch", F.lit(epoch_id).cast("long"))
    caching.persist(batch)
    try:
        good, bad, alert, corrupt = split_micro_batch(batch)
        (
            good.drop("raw_data")
            .withColumn("dt", F.to_date("event_time"))
            .write.mode("overwrite")
            .partitionBy("epoch", "dt")
            .parquet(sinks.good)
        )
        (
            bad.select(
                "raw_data",
                "error_reason",
                "epoch",
                F.date_format("event_time", "yyyy-MM-dd").alias("dt"),
                F.date_format("event_time", "HH").alias("hour"),
            )
            .write.mode("overwrite")
            .partitionBy("epoch", "dt", "hour")
            .json(sinks.bad)
        )
        (
            alert.drop("raw_data")
            .write.mode("overwrite")
            .partitionBy("epoch")
            .json(sinks.alert)
        )
        (
            corrupt.withColumn("epoch", F.lit(epoch_id).cast("long"))
            .write.mode("overwrite")
            .partitionBy("epoch")
            .json(sinks.corrupt)
        )
    finally:
        caching.release(batch)


def run_validation_pipeline(
    spark: SparkSession,
    source_dir: str,
    sinks: StreamSinks,
    available_now: bool = True,
    exactly_once: bool = False,
):
    """Wire source → foreachBatch router with checkpointing (T11).

    ``available_now=True`` drains everything currently in the source then
    stops — the micro-batch analog of the reference's one-Lambda-invocation
    processing model, and what the tests use.  ``exactly_once=True`` swaps
    in the replay-idempotent epoch-partitioned batch body.
    """
    body = process_micro_batch_exactly_once if exactly_once else process_micro_batch
    stream = read_tick_stream(spark, source_dir)
    # Distinct checkpoint dirs per batch body: the two bodies write
    # different sink layouts (epoch-partitioned overwrite vs append), so
    # resuming one mode from the other's offsets would mix layouts in the
    # same sink directories (ADVICE r6).
    ckpt = "router-eo" if exactly_once else "router"
    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(sinks.checkpoint, ckpt))
        .foreachBatch(lambda b, e: body(b, e, sinks))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_ohlc(
    ticks: DataFrame,
    window: str = "24 hours",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """T9: recompute high/low/avg per coin per (sliding) window natively —
    the reference receives high_24h/low_24h precomputed from the API.

    Works on both static and streaming frames; with streaming input the
    watermark (T8) bounds state and admits late data up to the bound.
    """
    if "event_time" not in ticks.columns:
        ticks = ticks.withColumn("event_time", F.to_timestamp("timestamp"))
    src = ticks.withWatermark("event_time", watermark) if ticks.isStreaming else ticks
    win = F.window("event_time", window, slide) if slide else F.window("event_time", window)
    return src.groupBy(win.alias("w"), "coin_id").agg(
        F.max("current_price").alias("high"),
        F.min("current_price").alias("low"),
        F.round(F.avg("current_price"), 6).alias("avg_price"),
        F.count(F.lit(1)).alias("n_ticks"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "coin_id", "high", "low", "avg_price", "n_ticks",
    )


def dedup_stream(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T10: exactly-once per (coin_id, event_time) within the watermark —
    replaces DynamoDB last-write-wins put_item overwrites."""
    src = ticks.withWatermark("event_time", watermark) if ticks.isStreaming else ticks
    return src.dropDuplicates(["coin_id", "event_time"])


def join_tick_streams(
    ticks: DataFrame,
    confirms: DataFrame,
    watermark: str = "10 minutes",
    max_delay: str = "5 minutes",
) -> DataFrame:
    """Stream-stream inner join: each tick matched to confirmations arriving
    within ``max_delay`` after it (no analog in the reference — its Lambda
    consumer sees one stream; any correlation happens in DynamoDB reads).

    State stays bounded because BOTH sides carry a watermark and the join
    condition bounds confirm_time to a finite interval after event_time —
    Spark derives the state-eviction horizon from the two, so at 100 TB/day
    the join state is O(rate × (watermark + max_delay)), not O(stream).
    Expects ``confirms`` columns prefixed ``confirm_`` (at minimum
    ``confirm_coin_id``, ``confirm_time``).
    """
    lhs = ticks.withWatermark("event_time", watermark)
    rhs = confirms.withWatermark("confirm_time", watermark)
    return lhs.join(
        rhs,
        F.expr(
            f"""
            coin_id = confirm_coin_id AND
            confirm_time >= event_time AND
            confirm_time <= event_time + INTERVAL {max_delay}
            """
        ),
        "inner",
    )


def dedup_stream_within_watermark(
    ticks: DataFrame,
    keys: tuple[str, ...] = ("coin_id", "seq_no"),
    watermark: str = "10 minutes",
) -> DataFrame:
    """T10 variant for retransmissions whose EVENT TIMES differ between
    copies (so exact-key dedup_stream misses them): first arrival per key
    wins, duplicates dropped for as long as the key is within the
    watermark. State per key is dropped at the horizon — bounded, unlike a
    global ``dropDuplicates`` on a stream which grows forever.

    A streaming frame MUST carry ``event_time``: silently skipping the
    watermark would only defer the failure to query start
    (``dropDuplicatesWithinWatermark`` cannot run unwatermarked) with a
    far less actionable error.
    """
    if ticks.isStreaming:
        if "event_time" not in ticks.columns:
            raise ValueError(
                "dedup_stream_within_watermark needs an event_time column "
                "on a streaming frame to bound its state — synthesize one "
                "(to_timestamp of the source time field) upstream"
            )
        return ticks.withWatermark(
            "event_time", watermark
        ).dropDuplicatesWithinWatermark(list(keys))
    return ticks.dropDuplicates(list(keys))
