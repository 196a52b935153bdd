"""End-to-end Structured Streaming tests: the reference's producer→consumer
fixture replayed through readStream + foreachBatch routing (availableNow
micro-batches), plus watermarked windowing and streaming dedup."""

import glob
import json
from datetime import datetime, timedelta, timezone

import pyspark.sql.functions as F

from cryptocurrency_data_pipeline_spark.streaming import pipeline, producer


def _sinks(tmp_path):
    return pipeline.StreamSinks(
        good=str(tmp_path / "good"),
        bad=str(tmp_path / "bad"),
        alert=str(tmp_path / "alert"),
        corrupt=str(tmp_path / "corrupt"),
        checkpoint=str(tmp_path / "ckpt"),
    )


def test_e2e_routing_8_plus_3(spark, tmp_path):
    src = str(tmp_path / "src")
    producer.write_batch(src, producer.make_batch(8), corrupt_lines=1)
    sinks = _sinks(tmp_path)
    q = pipeline.run_validation_pipeline(spark, src, sinks)
    q.awaitTermination(120)

    good = spark.read.parquet(sinks.good)
    assert good.count() == 9
    bad = spark.read.json(sinks.bad)
    assert bad.count() == 2
    assert set(bad.columns) >= {"raw_data", "error_reason"}
    alert = spark.read.json(sinks.alert)
    assert alert.count() == 1 and alert.collect()[0].coin_id == "surge-coin"
    corrupt = spark.read.json(sinks.corrupt)
    assert corrupt.count() == 1
    assert corrupt.collect()[0].error_reason == "json_parse_error"
    # bad records land in dt=/hour= partitions (reference S3 key layout)
    assert glob.glob(f"{sinks.bad}/dt=*/hour=*/*.json")


def test_incremental_batches_checkpointed(spark, tmp_path):
    """Second run only processes newly-arrived files (exactly-once source)."""
    src = str(tmp_path / "src")
    sinks = _sinks(tmp_path)
    producer.write_batch(src, producer.make_batch(8))
    pipeline.run_validation_pipeline(spark, src, sinks).awaitTermination(120)
    producer.write_batch(src, producer.make_batch(8))
    pipeline.run_validation_pipeline(spark, src, sinks).awaitTermination(120)
    assert spark.read.parquet(sinks.good).count() == 18  # 9 + 9, no reprocessing
    assert spark.read.json(sinks.alert).count() == 2


def test_windowed_ohlc_static_equivalent(spark):
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        producer.make_tick("btc", p, 10**9, ts=t0 + timedelta(hours=h))
        for h, p in [(0, 100.0), (1, 120.0), (2, 90.0), (25, 200.0)]
    ]
    df = spark.createDataFrame(rows)
    out = pipeline.windowed_ohlc(df, window="24 hours")
    got = {r.window_start.day: (r.high, r.low, r.n_ticks) for r in out.collect()}
    assert got == {1: (120.0, 90.0, 3), 2: (200.0, 200.0, 1)}


def test_dedup_stream_static(spark):
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    dup = producer.make_tick("btc", 100.0, 10**9, ts=t0)
    df = spark.createDataFrame([dup, dup, producer.make_tick("btc", 101.0, 10**9, ts=t0 + timedelta(minutes=1))])
    df = df.withColumn("event_time", F.to_timestamp("timestamp"))
    assert pipeline.dedup_stream(df).count() == 2


def test_streaming_windowed_aggregation(spark, tmp_path):
    """Watermark + tumbling window over an actual stream (availableNow)."""
    src = str(tmp_path / "wsrc")
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    recs = [
        producer.make_tick("btc", 100.0 + i, 10**9, ts=t0 + timedelta(minutes=10 * i))
        for i in range(6)
    ]
    producer.write_batch(src, recs)
    stream = pipeline.read_tick_stream(spark, src)
    agg = pipeline.windowed_ohlc(stream, window="30 minutes", watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "wout"))
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "wout"))
    # 6 ticks in 30-min tumbling windows: [0,30)=3, [30,60)=3 — the last
    # window may be withheld by the watermark in append mode.
    windows = {(r.window_start.minute, r.n_ticks) for r in out.collect()}
    assert (0, 3) in windows


def test_base64_encoded_source(spark, tmp_path):
    """Kinesis-style base64 payloads decoded JVM-side (F13, consumer.py:37)."""
    src = str(tmp_path / "b64src")
    producer.write_batch(src, producer.make_batch(3), base64_encode=True)
    stream = pipeline.read_tick_stream(spark, src, base64_encoded=True)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory").queryName("b64ticks")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT coin_id, current_price FROM b64ticks").collect()
    assert len(out) == 6  # 3 normal + 3 anomalies
    assert {r.coin_id for r in out} >= {"coin-0", "surge-coin"}


def test_kafka_decode_lineage_matches_file_source(spark, tmp_path):
    """The Kafka reader (S8 production mode) routes through the SAME
    decode_tick_payload lineage as the file harness: applying that decode
    to a static frame shaped like the Kafka wire schema (binary value →
    cast string) must yield exactly the rows the file source parses from
    the same payloads — no broker needed to prove the source swap changes
    nothing downstream."""
    ticks = producer.make_batch(3)
    payloads = [json.dumps(t) for t in ticks] + ["{not valid json"]

    # Kafka wire shape: value arrives as binary, reader casts to string.
    wire = spark.createDataFrame(
        [(p.encode("utf-8"),) for p in payloads], "value binary"
    ).select(F.col("value").cast("string").alias("value"))
    via_kafka_lineage = pipeline.decode_tick_payload(wire)

    src = str(tmp_path / "kafka_parity_src")
    producer.write_batch(src, ticks, corrupt_lines=1)
    q = (
        pipeline.read_tick_stream(spark, src)
        .writeStream.outputMode("append")
        .format("memory").queryName("kafka_parity")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    via_file = spark.sql("SELECT * FROM kafka_parity")

    assert via_kafka_lineage.columns == via_file.columns
    key = lambda t: (t[0] or "",)  # noqa: E731  (sort by raw_data)
    assert sorted(map(tuple, via_kafka_lineage.collect()), key=key) == sorted(
        map(tuple, via_file.collect()), key=key
    )
    # The corrupt payload survives as a null-struct row in both lineages.
    assert via_kafka_lineage.filter(F.col("coin_id").isNull()).count() == 1


def test_kafka_reader_requires_connector(spark):
    """Without spark-sql-kafka on the classpath the reader must fail
    loudly at load() with the standard missing-data-source error — not
    silently fall back to anything."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        df = pipeline.read_tick_stream_kafka(spark, "broker:9092", "ticks")
    except AnalysisException as e:
        assert "kafka" in str(e).lower()
        return
    # Connector present (not this sandbox, but be future-proof): the
    # unresolved plan must parse and expose the shared decoded surface.
    assert {"raw_data", "coin_id", "event_time"} <= set(df.columns)


def _write_jsonl(path, rows):
    import os
    os.makedirs(path, exist_ok=True)
    p = f"{path}/part-{abs(hash(str(rows))) % 10**8}.json"
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_stream_join_bounded(spark, tmp_path):
    """Tick⋈confirmation within 5 minutes: in-window confirms match, the
    late one (7 min) and the wrong-coin one do not."""
    t0 = datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc)
    iso = lambda dt: dt.isoformat()
    ticks_dir, conf_dir = str(tmp_path / "ticks"), str(tmp_path / "confs")
    _write_jsonl(ticks_dir, [
        {"coin_id": "btc", "event_time": iso(t0), "price": 100.0},
        {"coin_id": "eth", "event_time": iso(t0), "price": 10.0},
    ])
    _write_jsonl(conf_dir, [
        {"confirm_coin_id": "btc", "confirm_time": iso(t0 + timedelta(minutes=3)), "fill": 1},
        {"confirm_coin_id": "btc", "confirm_time": iso(t0 + timedelta(minutes=7)), "fill": 2},
        {"confirm_coin_id": "doge", "confirm_time": iso(t0 + timedelta(minutes=1)), "fill": 3},
    ])
    ticks = (
        spark.readStream.schema("coin_id string, event_time string, price double")
        .json(ticks_dir)
        .withColumn("event_time", F.to_timestamp("event_time"))
    )
    confs = (
        spark.readStream.schema("confirm_coin_id string, confirm_time string, fill long")
        .json(conf_dir)
        .withColumn("confirm_time", F.to_timestamp("confirm_time"))
    )
    joined = pipeline.join_tick_streams(ticks, confs, max_delay="5 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select coin_id, fill from ss_join").collect()
    assert [(r.coin_id, r.fill) for r in got] == [("btc", 1)]


def test_dedup_within_watermark_catches_retransmits(spark, tmp_path):
    """Same (coin_id, seq_no) retransmitted 30s later with a different
    event_time: plain key+time dedup would keep both; within-watermark
    dedup keeps the first arrival only."""
    t0 = datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc)
    src = str(tmp_path / "re_src")
    _write_jsonl(src, [
        {"coin_id": "btc", "seq_no": 1, "event_time": t0.isoformat(), "price": 100.0},
        {"coin_id": "btc", "seq_no": 1,
         "event_time": (t0 + timedelta(seconds=30)).isoformat(), "price": 100.0},
        {"coin_id": "btc", "seq_no": 2,
         "event_time": (t0 + timedelta(seconds=10)).isoformat(), "price": 101.0},
    ])
    ticks = (
        spark.readStream
        .schema("coin_id string, seq_no long, event_time string, price double")
        .json(src)
        .withColumn("event_time", F.to_timestamp("event_time"))
    )
    deduped = pipeline.dedup_stream_within_watermark(ticks)
    q = (
        deduped.writeStream.format("memory")
        .queryName("ddww")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ddww"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select seq_no, count(*) n from ddww group by seq_no").collect()
    assert {r.seq_no: r.n for r in rows} == {1: 1, 2: 1}


def test_exactly_once_epoch_replay_is_idempotent(spark, tmp_path):
    """Crash-and-replay of an epoch converges instead of duplicating:
    the epoch-partitioned dynamic-overwrite body replaces its own output."""
    src = str(tmp_path / "src")
    producer.write_batch(src, producer.make_batch(8), corrupt_lines=1)
    sinks = _sinks(tmp_path)
    q = pipeline.run_validation_pipeline(spark, src, sinks, exactly_once=True)
    q.awaitTermination(120)

    good = spark.read.parquet(sinks.good)
    assert good.count() == 9 and "epoch" in good.columns
    assert spark.read.json(sinks.bad).count() == 2
    assert spark.read.json(sinks.alert).count() == 1
    assert spark.read.json(sinks.corrupt).count() == 1

    # Simulate Structured Streaming replaying the SAME epoch after a crash
    # between sink write and checkpoint commit: re-run the batch body with
    # the identical epoch id.  Counts must not change.
    epoch = good.select("epoch").distinct().collect()[0][0]
    batch = pipeline.decode_tick_payload(spark.read.text(src))
    pipeline.process_micro_batch_exactly_once(batch, epoch, sinks)
    pipeline.process_micro_batch_exactly_once(batch, epoch, sinks)
    assert spark.read.parquet(sinks.good).count() == 9
    assert spark.read.json(sinks.bad).count() == 2
    assert spark.read.json(sinks.alert).count() == 1
    assert spark.read.json(sinks.corrupt).count() == 1
    # The append-mode body under the same replay WOULD duplicate — that is
    # the at-least-once contract this variant exists to tighten.


def test_stream_static_enrichment_broadcast(spark, tmp_path):
    """Stream-static join: every micro-batch hash-joins against the
    broadcast dim with no watermark/state; unmatched ticks still flow."""
    src = str(tmp_path / "src")
    producer.write_batch(src, producer.make_batch(4))
    dim = spark.createDataFrame(
        [("coin-0", "L1"), ("coin-1", "L1"), ("coin-2", "L2")],
        "coin_id string, tier string",
    )
    out = str(tmp_path / "enriched")
    stream = pipeline.enrich_with_dim(pipeline.read_tick_stream(spark, src), dim)
    q = (
        stream.drop("raw_data")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    # 4 normal coins + the 3 injected anomaly records, ALL kept (left join).
    assert got.count() == 7
    tiers = {r.coin_id: r.tier for r in got.select("coin_id", "tier").collect()}
    assert tiers["coin-0"] == "L1" and tiers["coin-2"] == "L2"
    assert tiers["surge-coin"] is None  # unmatched flows through
    # Static plan equivalent keeps the broadcast hash join.
    static = pipeline.enrich_with_dim(
        pipeline.decode_tick_payload(spark.read.text(src)), dim
    )
    plan = static._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_mode_toggle_uses_distinct_checkpoints(spark, tmp_path):
    """The exactly-once body writes a different sink layout than the
    append body, so the two modes must not share stream offsets: each
    gets its own checkpoint subdir."""
    import os

    src = str(tmp_path / "src")
    producer.write_batch(src, producer.make_batch(4))
    sinks = _sinks(tmp_path)
    pipeline.run_validation_pipeline(
        spark, src, sinks, exactly_once=True
    ).awaitTermination(120)
    assert os.path.isdir(os.path.join(sinks.checkpoint, "router-eo"))
    assert not os.path.isdir(os.path.join(sinks.checkpoint, "router"))


def test_kafka_option_map_contract(spark):
    """The option map handed to format('kafka') — offsets pass through
    verbatim (earliest / latest / per-partition JSON), failOnDataLoss is
    lowercase-stringified, multi-topic subscribe is refused."""
    import pytest

    opts = pipeline.kafka_source_options("b:9092", "ticks")
    assert opts == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "ticks",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
    }
    per_part = '{"ticks":{"0":42,"1":-1}}'
    assert (
        pipeline.kafka_source_options(
            "b:9092", "ticks", starting_offsets=per_part, fail_on_data_loss=True
        )
        == {
            "kafka.bootstrap.servers": "b:9092",
            "subscribe": "ticks",
            "startingOffsets": per_part,
            "failOnDataLoss": "true",
        }
    )
    with pytest.raises(ValueError, match="one topic"):
        pipeline.kafka_source_options("b:9092", "a,b")


def test_kafka_key_decode_lineage(spark):
    """Recorded wire fixture with (key, value) binary columns: the
    include_key path surfaces the coin_id record key as kafka_key next
    to the SAME parsed payload the file harness produces — including the
    base64-encoded payload variant (the Kinesis encoding)."""
    import base64

    ticks = producer.make_batch(3)  # 3 normal + 3 injected anomalies
    wire_rows = [
        (t["coin_id"].encode(), json.dumps(t).encode()) for t in ticks
    ]
    wire = spark.createDataFrame(wire_rows, "key binary, value binary").select(
        F.col("key").cast("string").alias("kafka_key"),
        F.col("value").cast("string").alias("value"),
    )
    decoded = pipeline.decode_tick_payload(wire, passthrough=("kafka_key",))
    assert decoded.columns[0] == "kafka_key"
    rows = decoded.select("kafka_key", "coin_id", "current_price").collect()
    assert len(rows) == 6 and all(r.kafka_key == r.coin_id for r in rows)

    b64 = spark.createDataFrame(
        [(t["coin_id"].encode(), base64.b64encode(json.dumps(t).encode()))
         for t in ticks],
        "key binary, value binary",
    ).select(
        F.col("key").cast("string").alias("kafka_key"),
        F.col("value").cast("string").alias("value"),
    )
    via_b64 = pipeline.decode_tick_payload(
        b64, base64_encoded=True, passthrough=("kafka_key",)
    )
    assert sorted(map(tuple, via_b64.collect())) == sorted(
        map(tuple, decoded.collect())
    )


def test_decode_passthrough_rejects_colliding_names(spark):
    """A passthrough column named like a payload field would silently
    produce duplicate columns; the decode must fail fast instead."""
    import pytest

    wire = spark.createDataFrame([("x", "{}")], "timestamp string, value string")
    with pytest.raises(ValueError, match="collide"):
        pipeline.decode_tick_payload(wire, passthrough=("timestamp",))


def test_stream_to_snapshot_table_current_state_and_replay(spark, tmp_path):
    """Micro-batches merge into a keyed current-state COW snapshot table:
    latest row per coin survives, a replayed batch is version-stable
    (skip_unchanged withdraws the no-op publish), and a real update
    publishes a new time-travel-readable version whose change feed is
    confined to the merged keys."""
    from cryptocurrency_data_pipeline_spark.operators import maintenance as mt
    from cryptocurrency_data_pipeline_spark.streaming import snapshot_sink

    src = str(tmp_path / "src")
    table = str(tmp_path / "snap_table")
    ck = str(tmp_path / "ck")
    producer.write_batch(src, producer.make_batch(4))
    snapshot_sink.stream_ticks_to_snapshot(spark, src, table, ck).awaitTermination(120)

    cur = mt.read_snapshot(spark, table)
    assert cur.count() == 7  # 4 normal + 3 anomalies, one row per coin
    assert cur.select("coin_id").distinct().count() == 7
    v1 = mt.list_snapshots(table)[-1]["version"]

    # Replay the SAME content (a foreachBatch retry): no new version.
    batch = (
        pipeline.decode_tick_payload(spark.read.text(src))
        .filter(F.col("coin_id").isNotNull())
        .withColumn("bucket", snapshot_sink.key_bucket(["coin_id"]))
    )
    v_replay = snapshot_sink.merge_batch_into_snapshot(
        batch, table, ["coin_id"], part_col="bucket",
        order_col="event_time", tiebreak=["raw_data"],
    )
    assert v_replay == v1
    assert mt.list_snapshots(table)[-1]["version"] == v1

    # A real NEXT-DAY price update arrives: the key's partition is
    # bucket-derived, so crossing a day boundary still REPLACES the
    # stored row (a date-partitioned state table would strand it).
    from datetime import datetime, timedelta, timezone

    tomorrow = datetime.now(timezone.utc) + timedelta(days=1)
    producer.write_batch(
        src,
        [producer.make_tick("coin-0", 555.0, 5_000_000_000, 1.0, 2.0, tomorrow)],
    )
    snapshot_sink.stream_ticks_to_snapshot(spark, src, table, ck).awaitTermination(120)
    assert mt.list_snapshots(table)[-1]["version"] == v1 + 1
    cur2 = mt.read_snapshot(spark, table)
    assert cur2.count() == 7  # still one row per coin — no stranded stale row
    assert cur2.filter("coin_id = 'coin-0'").collect()[0].current_price == 555.0
    # The version diff is exactly the one updated key.
    feed = mt.snapshot_changes(spark, table, v1, v1 + 1)
    assert {(r.coin_id, r._change) for r in feed.collect()} == {
        ("coin-0", "insert"), ("coin-0", "delete"),
    }

    # Late data cannot regress the key: a delayed YESTERDAY tick for
    # coin-0 is discarded, no version minted.
    yesterday = datetime.now(timezone.utc) - timedelta(days=1)
    late = (
        spark.createDataFrame(
            [producer.make_tick("coin-0", 111.0, 5_000_000_000, 1.0, 2.0, yesterday)]
        )
        .withColumn("event_time", F.to_timestamp("timestamp"))
        .withColumn("raw_data", F.to_json(F.struct("coin_id", "timestamp")))
        .withColumn("bucket", snapshot_sink.key_bucket(["coin_id"]))
    )
    v_after_late = snapshot_sink.merge_batch_into_snapshot(
        late, table, ["coin_id"], part_col="bucket",
        order_col="event_time", tiebreak=["raw_data"],
    )
    assert v_after_late == v1 + 1
    assert mt.read_snapshot(spark, table).filter(
        "coin_id = 'coin-0'"
    ).collect()[0].current_price == 555.0


def test_snapshot_sink_rejects_layout_change_and_tie_loser_replay(spark, tmp_path):
    """Changing n_buckets on an existing sink table fails fast with a
    migration message; a redelivered tie-LOSING row (same order_col,
    lower tiebreak) cannot regress the stored tie-winner."""
    import pytest

    from cryptocurrency_data_pipeline_spark.operators import maintenance as mt
    from cryptocurrency_data_pipeline_spark.streaming import snapshot_sink

    src = str(tmp_path / "src")
    table = str(tmp_path / "snap_table")
    ck = str(tmp_path / "ck")
    producer.write_batch(src, producer.make_batch(2))
    snapshot_sink.stream_ticks_to_snapshot(spark, src, table, ck).awaitTermination(120)
    with pytest.raises(ValueError, match="layout mismatch"):
        snapshot_sink.stream_ticks_to_snapshot(
            spark, src, table, ck, n_buckets=32
        )

    # Tie-loser replay: two rows share event_time; the raw_data-desc
    # tiebreak stores the winner. Redelivering ONLY the loser must not
    # mint a version or change state.
    base = (
        pipeline.decode_tick_payload(spark.read.text(src))
        .filter(F.col("coin_id") == "coin-0")
        .withColumn("bucket", snapshot_sink.key_bucket(["coin_id"]))
    )
    winner_raw = base.select(F.max("raw_data")).collect()[0][0]
    # Explicit loser: same event_time, raw_data strictly below the
    # winner's ('!' sorts below any printable payload start).
    loser = base.withColumn("raw_data", F.lit("!" + winner_raw[1:]))
    both = base.unionByName(loser)
    v1 = mt.list_snapshots(table)[-1]["version"]
    v_after_both = snapshot_sink.merge_batch_into_snapshot(
        both, table, ["coin_id"], part_col="bucket",
        order_col="event_time", tiebreak=["raw_data"],
    )
    stored = mt.read_snapshot(spark, table).filter(
        "coin_id = 'coin-0'"
    ).collect()[0].raw_data
    # Now redeliver ONLY the loser.
    v_after_loser = snapshot_sink.merge_batch_into_snapshot(
        loser, table, ["coin_id"], part_col="bucket",
        order_col="event_time", tiebreak=["raw_data"],
    )
    assert v_after_loser == v_after_both
    assert mt.read_snapshot(spark, table).filter(
        "coin_id = 'coin-0'"
    ).collect()[0].raw_data == stored


def test_snapshot_sink_null_order_rows_dropped_consistently(spark, tmp_path):
    """Rows with a NULL order_col (unparseable event time) are dropped
    up front: they never seed a key, never supersede one, and a later
    VALID row for the same key merges normally — seed and steady-state
    behavior agree (ADVICE r7)."""
    from cryptocurrency_data_pipeline_spark.operators import maintenance as mt
    from cryptocurrency_data_pipeline_spark.streaming import snapshot_sink

    table = str(tmp_path / "snap_null")
    schema = "coin_id string, price double, event_time timestamp, raw_data string"

    def with_bucket(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "bucket", snapshot_sink.key_bucket(["coin_id"])
        )

    from datetime import datetime

    t1 = datetime(2024, 1, 1, 12, 0, 0)
    # Batch 1: key A has only a null-ordered row (dropped — it must NOT
    # seed), key B has a valid row.
    b1 = with_bucket([("A", 1.0, None, "rA0"), ("B", 2.0, t1, "rB1")])
    st1 = {}
    snapshot_sink.merge_batch_into_snapshot(
        b1, table, ["coin_id"], part_col="bucket",
        order_col="event_time", tiebreak=["raw_data"], stats_out=st1,
    )
    assert st1["null_order_dropped"] == 1  # the drop is observable
    cur = mt.read_snapshot(spark, table)
    assert {r.coin_id for r in cur.collect()} == {"B"}

    # Batch 2: a null-ordered row for the EXISTING key B is discarded
    # (not an error, no version minted), and a valid row for A merges.
    v_before = mt.list_snapshots(table)[-1]["version"]
    b2 = with_bucket([("B", 9.0, None, "rB9"), ("A", 3.0, t1, "rA1")])
    snapshot_sink.merge_batch_into_snapshot(
        b2, table, ["coin_id"], part_col="bucket",
        order_col="event_time", tiebreak=["raw_data"],
    )
    got = {(r.coin_id, r.price) for r in mt.read_snapshot(spark, table).collect()}
    assert got == {("A", 3.0), ("B", 2.0)}  # B's null row never applied
    assert mt.list_snapshots(table)[-1]["version"] == v_before + 1

    # An ALL-null batch is a clean no-op: same version, same state.
    b3 = with_bucket([("A", 7.0, None, "x"), ("B", 8.0, None, "y")])
    st3 = {}
    v = snapshot_sink.merge_batch_into_snapshot(
        b3, table, ["coin_id"], part_col="bucket",
        order_col="event_time", tiebreak=["raw_data"], stats_out=st3,
    )
    assert st3["null_order_dropped"] == 2  # every dropped row counted
    assert v == v_before + 1
    assert {(r.coin_id, r.price) for r in mt.read_snapshot(spark, table).collect()} == got


def test_snapshot_sink_collapse_feed_shows_update_pairs(spark, tmp_path):
    """The sink records its merge keys, so a downstream consumer can read
    the collapsed CDC between consecutive sink versions: a superseded
    key appears exactly as one update_preimage/update_postimage pair."""
    from datetime import datetime

    from cryptocurrency_data_pipeline_spark.operators import maintenance as mt
    from cryptocurrency_data_pipeline_spark.streaming import snapshot_sink

    table = str(tmp_path / "sink_cdc")
    schema = "coin_id string, price double, event_time timestamp, raw_data string"

    def with_bucket(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "bucket", snapshot_sink.key_bucket(["coin_id"])
        )

    t1, t2 = datetime(2024, 1, 1, 12), datetime(2024, 1, 2, 12)
    snapshot_sink.merge_batch_into_snapshot(
        with_bucket([("A", 1.0, t1, "ra1"), ("B", 2.0, t1, "rb1")]),
        table, ["coin_id"], part_col="bucket",
        order_col="event_time", tiebreak=["raw_data"],
    )
    snapshot_sink.merge_batch_into_snapshot(
        with_bucket([("A", 9.0, t2, "ra2"), ("C", 3.0, t2, "rc1")]),
        table, ["coin_id"], part_col="bucket",
        order_col="event_time", tiebreak=["raw_data"],
    )
    feed = mt.snapshot_changes(spark, table, 1, 2, collapse=True)
    got = {(r.coin_id, r.price, r._change) for r in feed.collect()}
    assert got == {
        ("A", 9.0, "update_postimage"),
        ("A", 1.0, "update_preimage"),
        ("C", 3.0, "insert"),
    }


def test_snapshot_sink_lookup_current_prunes_to_key_buckets(spark, tmp_path):
    """lookup_current reads ONLY the probed keys' bucket partitions (the
    DynamoDB get_item analog): the plan's partition filters name just
    those buckets, and results match a full-scan filter."""
    import io
    from contextlib import redirect_stdout
    from datetime import datetime

    from cryptocurrency_data_pipeline_spark.streaming import snapshot_sink

    table = str(tmp_path / "lookup")
    schema = "coin_id string, price double, event_time timestamp, raw_data string"
    t1 = datetime(2024, 1, 1, 12)
    rows = [(f"coin-{i}", float(i), t1, f"r{i}") for i in range(40)]
    # Record the layout contract, as stream_ticks_to_snapshot does —
    # lookup_current resolves keys/n_buckets/part_col from it.
    snapshot_sink._check_sink_meta(
        table, {"part_col": "bucket", "n_buckets": 16, "keys": ["coin_id"]}
    )
    batch = spark.createDataFrame(rows, schema).withColumn(
        "bucket", snapshot_sink.key_bucket(["coin_id"])
    )
    snapshot_sink.merge_batch_into_snapshot(
        batch, table, ["coin_id"], part_col="bucket",
        order_col="event_time", tiebreak=["raw_data"],
    )
    got = snapshot_sink.lookup_current(spark, table, ["coin-3", "coin-17"])
    assert {(r.coin_id, r.price) for r in got.collect()} == {
        ("coin-3", 3.0), ("coin-17", 17.0),
    }
    # Missing keys: no rows, no error.
    assert snapshot_sink.lookup_current(spark, table, ["nope"]).count() == 0

    # Partition-pruning pin: the scan's PartitionFilters reference only
    # the probed keys' buckets.
    want_buckets = {
        str(r[0])
        for r in batch.filter(F.col("coin_id").isin("coin-3", "coin-17"))
        .select("bucket").distinct().collect()
    }
    buf = io.StringIO()
    with redirect_stdout(buf):
        snapshot_sink.lookup_current(
            spark, table, ["coin-3", "coin-17"]
        ).explain("formatted")
    pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf
    all_buckets = {str(r[0]) for r in batch.select("bucket").distinct().collect()}
    for ln in pf:
        for b in all_buckets - want_buckets:
            assert f" {b}," not in ln and f"({b})" not in ln and f" {b})" not in ln


def test_lookup_current_casts_probe_to_table_key_dtype(spark, tmp_path):
    """xxhash64 is type-sensitive: the same value buckets differently as
    int vs long.  createDataFrame infers Python ints as LONG, so probing
    an INT-keyed table must cast the probe to the table's key dtype
    before bucketing — without the cast the lookup prunes to the wrong
    buckets and silently returns no rows."""
    from datetime import datetime

    from cryptocurrency_data_pipeline_spark.streaming import snapshot_sink

    table = str(tmp_path / "intkey")
    snapshot_sink._check_sink_meta(
        table, {"part_col": "bucket", "n_buckets": 8, "keys": ["k"]}
    )
    t1 = datetime(2024, 1, 1, 12)
    batch = spark.createDataFrame(
        [(i, float(i), t1) for i in range(20)],
        "k int, v double, event_time timestamp",  # INT key, not long
    ).withColumn("bucket", snapshot_sink.key_bucket(["k"], 8))
    snapshot_sink.merge_batch_into_snapshot(
        batch, table, ["k"], part_col="bucket", order_col="event_time"
    )
    # 5 buckets differently as int (0) and long (5) — this probe misses
    # entirely unless the probe is cast to the stored int type.
    got = snapshot_sink.lookup_current(spark, table, [5, 17])
    assert {(r.k, r.v) for r in got.collect()} == {(5, 5.0), (17, 17.0)}
    # A probe value that cannot cast to the key type yields NO row — and
    # contributes no bucket to the pruned scan (xxhash64 of a null key
    # returns its seed, so an undropped null probe would scan a spurious
    # partition).
    assert snapshot_sink.lookup_current(spark, table, [10**12]).count() == 0
    # Zero probe keys: empty result, same schema, no inference error.
    empty = snapshot_sink.lookup_current(spark, table, [])
    assert empty.count() == 0
    assert empty.columns == ["k", "v", "event_time", "bucket"]


def test_merge_batch_rejects_key_dtype_drift(spark, tmp_path):
    """A batch whose key column type drifted from the stored table would
    re-bucket every key (xxhash64 type-sensitivity) and strand stale
    rows — merge_batch_into_snapshot fails fast instead."""
    from datetime import datetime

    import pytest

    from cryptocurrency_data_pipeline_spark.streaming import snapshot_sink

    table = str(tmp_path / "drift")
    t1, t2 = datetime(2024, 1, 1, 12), datetime(2024, 1, 2, 12)
    seed = spark.createDataFrame(
        [(1, 1.0, t1)], "k int, v double, event_time timestamp"
    ).withColumn("bucket", snapshot_sink.key_bucket(["k"], 8))
    snapshot_sink.merge_batch_into_snapshot(
        seed, table, ["k"], part_col="bucket", order_col="event_time"
    )
    drifted = spark.createDataFrame(
        [(1, 2.0, t2)], "k long, v double, event_time timestamp"
    ).withColumn("bucket", snapshot_sink.key_bucket(["k"], 8))
    with pytest.raises(ValueError, match="drifted"):
        snapshot_sink.merge_batch_into_snapshot(
            drifted, table, ["k"], part_col="bucket", order_col="event_time"
        )


def test_lookup_current_rejects_lossy_probe_casts(spark, tmp_path):
    """A probe value that does not ROUND-TRIP through the key type must
    produce no row — try_cast alone truncates 3.7 to 3 and would answer
    the point lookup with a DIFFERENT key's current row."""
    from datetime import datetime

    from cryptocurrency_data_pipeline_spark.streaming import snapshot_sink

    table = str(tmp_path / "lossy")
    snapshot_sink._check_sink_meta(
        table, {"part_col": "bucket", "n_buckets": 8, "keys": ["k"]}
    )
    t1 = datetime(2024, 1, 1, 12)
    batch = spark.createDataFrame(
        [(i, float(i), t1) for i in range(10)],
        "k int, v double, event_time timestamp",
    ).withColumn("bucket", snapshot_sink.key_bucket(["k"], 8))
    snapshot_sink.merge_batch_into_snapshot(
        batch, table, ["k"], part_col="bucket", order_col="event_time"
    )
    # Fractional probe: key 3 exists, but 3.7 is not key 3.
    assert snapshot_sink.lookup_current(spark, table, [3.7]).count() == 0
    # Exactly-representable double probes still hit.
    got = snapshot_sink.lookup_current(spark, table, [3.0, 7.0])
    assert {(r.k, r.v) for r in got.collect()} == {(3, 3.0), (7, 7.0)}


def test_missing_coin_id_routes_to_bad_not_corrupt(spark):
    """Valid JSON without a coin_id is a data-quality failure: it lands
    in the BAD sink with reason missing_coin_id, while truly unparseable
    payloads stay in the corrupt sink — parse-error monitoring must not
    be polluted by schema-level gaps."""
    payloads = [
        json.dumps(producer.make_tick("btc", 100.0, 10**9)),
        '{"symbol": "eth", "current_price": 1.0}',  # valid JSON, no coin_id
        "{definitely not json",
    ]
    wire = spark.createDataFrame([(p,) for p in payloads], "value string")
    decoded = pipeline.decode_tick_payload(wire)
    good, bad, alert, corrupt = pipeline.split_micro_batch(decoded)
    assert corrupt.count() == 1
    assert corrupt.collect()[0].error_reason == "json_parse_error"
    missing = bad.filter(F.col("error_reason") == "missing_coin_id")
    assert missing.count() == 1


def test_dedup_within_watermark_requires_event_time_on_streams(spark, tmp_path):
    import pytest

    src = str(tmp_path / "ddsrc")
    producer.write_batch(src, producer.make_batch(2))
    stream = pipeline.read_tick_stream(spark, src).drop("event_time")
    with pytest.raises(ValueError, match="event_time"):
        pipeline.dedup_stream_within_watermark(stream)


def _static_router_batch(spark, tmp_path):
    """A 12-line static frame (8 ticks + 3 anomalies + 1 corrupt line)
    shaped like one router micro-batch."""
    src = str(tmp_path / "src")
    producer.write_batch(src, producer.make_batch(8), corrupt_lines=1)
    return pipeline.decode_tick_payload(spark.read.text(src))


def _committed(path):
    """Part files moved out of the job's staging area: the write committed."""
    parts = glob.glob(f"{path}/**/part-*", recursive=True)
    return [p for p in parts if "_temporary" not in p]


def test_router_sink_failure_propagates_after_all_writes_and_releases(spark, tmp_path):
    """One failing sink fails the batch, but only after the other three
    writes have committed, and the batch's persist is released either way
    (both router bodies)."""
    import pytest

    from cryptocurrency_data_pipeline_spark.operators import caching

    batch = _static_router_batch(spark, tmp_path)
    for body in (pipeline.process_micro_batch, pipeline.process_micro_batch_exactly_once):
        root = tmp_path / body.__name__
        root.mkdir()
        sinks = _sinks(root)
        (root / "alert").write_text("a regular file, not a sink directory\n")
        before = list(caching._LIVE)
        with pytest.raises(Exception, match="alert"):
            body(batch, 0, sinks)
        for path in (sinks.good, sinks.bad, sinks.corrupt):
            assert _committed(path), path
        assert [e for e in caching._LIVE if not any(e is b for b in before)] == []


def test_router_writes_inherit_job_group_and_add_no_job(spark, tmp_path):
    """The sink writes run on the caller's job group (their threads
    inherit its local properties, so stopping a query cancels them) and
    the append body launches exactly the 4 jobs of the sequential one."""
    batch = _static_router_batch(spark, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("router-pin", "router job-count pin")
    try:
        pipeline.process_micro_batch(batch, 0, _sinks(tmp_path))
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads listener state
    assert len(sc.statusTracker().getJobIdsForGroup("router-pin")) == 4
