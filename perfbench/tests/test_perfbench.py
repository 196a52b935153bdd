"""Tests of the benchmark itself: the generator, its tallies against a tiny
real pipeline run, its query tables against the DuckDB oracles, the
event-log fold on a tiny tagged run, and the stream latency computation on
a synthetic progress and checkpoint fixture.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import random
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import gen  # noqa: E402
import tracing  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


# --- generator -----------------------------------------------------------------


def test_generator_is_deterministic_per_seed(tmp_path):
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        base, delta = tmp_path / tag / "base", tmp_path / tag / "delta"
        runs[tag] = gen.make_merge_wide(seed, str(base), str(delta), 500, 2)
    assert runs["a"] == runs["b"] != runs["c"]
    for sub in ("base", "delta"):
        a, b = tmp_path / "a" / sub, tmp_path / "b" / sub
        names = sorted(os.listdir(a))
        assert names == sorted(os.listdir(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        assert mismatch == errors == []

    t1 = gen.render_tick_files(random.Random(3), str(tmp_path / "t1"), "x", 2, 5)
    t2 = gen.render_tick_files(random.Random(3), str(tmp_path / "t2"), "x", 2, 5)
    assert [open(p).read() for p in t1] == [open(p).read() for p in t2]

    sizes = {"documents": 30, "embeddings": 20, "part": 5, "orders": 40}
    assert gen.query_tables(4, sizes) == gen.query_tables(4, sizes)
    assert gen.query_tables(4, sizes) != gen.query_tables(5, sizes)


def test_query_tables_have_the_test_table_shape():
    sizes = {"documents": 200, "embeddings": 50, "part": 10, "orders": 300}
    t = gen.query_tables(1, sizes)
    assert {k: len(next(iter(v.values()))) for k, v in t.items()} == sizes
    docs = t["documents"]
    assert docs["n_chars"] == [len(x) for x in docs["text"]]
    assert any("dup" in x.split() for x in docs["text"])  # near-dups exist
    for v in t["embeddings"]["embedding"]:
        assert len(v) == gen.EMBED_DIM
        assert sum(x * x for x in v) == pytest.approx(1.0)
    assert set(t["orders"]["o_orderpriority"]) <= set(gen.PRIORITIES)


def test_generator_tallies_are_consistent(tmp_path):
    base, final = gen.make_merge_wide(
        1, str(tmp_path / "base"), str(tmp_path / "delta"), 2000, 4
    )
    assert base["bronze_lines"] == 2000
    assert base["silver_rows"] + sum(base["dlq"].values()) == 2000
    assert base["renamed_coins"] == 0
    # ~10% renamed, ~1% added (20 coins); dims and fact follow silver.
    assert 100 < final["renamed_coins"] < 300
    assert final["silver_rows"] >= base["silver_rows"] + 15
    assert final["fact_rows"] == final["dim_coin_rows"] == final["silver_rows"]
    # No batch price may trip the ETL gate's price constraints.
    for name in os.listdir(tmp_path / "base"):
        for line in open(tmp_path / "base" / name):
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            if rec.get("current_price") is not None:
                assert 0 < rec["current_price"] < 1_000_000


# --- latency computation ----------------------------------------------------------


def _source_log(ckpt, batch, entries, name=None):
    d = ckpt / "sources" / "0"
    d.mkdir(parents=True, exist_ok=True)
    lines = ["v1"] + [
        json.dumps({"path": "file://" + p, "timestamp": 0, "batchId": batch})
        for p in entries
    ]
    (d / (name or str(batch))).write_text("\n".join(lines) + "\n")


def test_latency_from_progress_and_checkpoint(tmp_path):
    ckpt = tmp_path / "ckpt"
    _source_log(ckpt, 0, ["/in/a.json", "/in/b.json"], name="0.compact")
    _source_log(ckpt, 1, ["/in/c%20d.json"])
    progresses = [
        # An idle trigger carries no rows and must be ignored.
        {"batchId": 1, "numInputRows": 0, "timestamp": "2026-01-01T00:00:09.000Z",
         "durationMs": {"triggerExecution": 5}},
        {"batchId": 0, "numInputRows": 20, "timestamp": "2026-01-01T00:00:01.000Z",
         "durationMs": {"triggerExecution": 500}},
        {"batchId": 1, "numInputRows": 10, "timestamp": "2026-01-01T00:00:02.000Z",
         "durationMs": {"triggerExecution": 250}},
    ]
    t0 = 1767225600.0  # 2026-01-01T00:00:00Z
    due = {"/in/a.json": t0 + 0.5, "/in/b.json": t0 + 1.0, "/in/c d.json": t0 + 1.25}
    batch_of = tracing.file_batches(str(ckpt))
    assert batch_of == {"/in/a.json": 0, "/in/b.json": 0, "/in/c d.json": 1}
    committed = tracing.batch_commits(progresses)
    assert committed == {0: t0 + 1.5, 1: t0 + 2.25}
    lat, lag_end = tracing.file_latencies(due, batch_of, committed)
    assert lat == pytest.approx([1.0, 0.5, 1.0])
    assert lag_end == pytest.approx(1.0)

    due["/in/e.json"] = t0 + 3
    with pytest.raises(ValueError, match="never committed"):
        tracing.file_latencies(due, batch_of, committed)


def test_a_trimmed_progress_list_is_refused():
    import workloads

    class Query:
        def __init__(self, first):
            self.recentProgress = [
                {"batchId": b, "numInputRows": 1} for b in range(first, first + 3)
            ]

    assert [p["batchId"] for p in workloads._progress_dicts(Query(0))] == [0, 1, 2]
    # Spark drops the oldest records past its cap; a list missing batch 0
    # must fail the run, not silently drop the early files' latencies.
    with pytest.raises(ValueError, match="trimmed"):
        workloads._progress_dicts(Query(100))


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert tracing.median(xs) == 3.0
    assert tracing.percentile(xs, 95) == pytest.approx(4.8)
    assert tracing.percentile([7.0], 99) == 7.0


# --- against the engine --------------------------------------------------------------


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from cryptocurrency_data_pipeline_spark.session import get_spark

    # Python workers import the engine too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(BENCH), os.environ.get("PYTHONPATH")) if p
    )
    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(
        "perfbench-tests",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + str(log_dir),
        },
    )
    yield spark, str(log_dir)
    spark.stop()


def _drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_tallies_match_a_tiny_pipeline_run(traced_spark, tmp_path):
    import workloads

    spark, _ = traced_spark
    ctx = workloads.Ctx(spark, 5, 0.0, str(tmp_path))
    p = workloads.etl_paths(str(tmp_path))
    delta = str(tmp_path / "delta")
    base, final = gen.make_merge_wide(5, p.bronze, delta, 300, 2)
    assert base["dlq"] and final["renamed_coins"]  # both checks have teeth
    assert workloads.etl_iteration(ctx, p, base, "first load") is not None
    for name in os.listdir(delta):
        os.rename(os.path.join(delta, name), os.path.join(p.bronze, name))
    workloads._rm(p.dlq, p.metrics)  # the DLQ appends; tallies are per run
    assert workloads.etl_iteration(ctx, p, final, "re-run") is not None
    assert ctx.problems == [] and (ctx.attempted, ctx.failed) == (2, 0)

    # A wrong expectation is reported, not silently accepted.
    wrong = dict(final, renamed_coins=final["renamed_coins"] + 1)
    assert workloads.check_etl(spark, p, wrong, {"Passed": final["silver_rows"]})


def test_stream_drain_matches_tick_tallies(traced_spark, tmp_path):
    import workloads

    spark, _ = traced_spark
    ctx = workloads.Ctx(spark, 1, 0.0, str(tmp_path))
    files = gen.render_tick_files(random.Random(1), str(tmp_path / "ticks"), "t", 3, 10)
    wall, progresses = workloads._drain(ctx, files, str(tmp_path / "drain"), "drain", 10)
    assert ctx.problems == [] and (ctx.attempted, ctx.failed) == (1, 0)
    assert sum(p["numInputRows"] for p in progresses) == gen.tick_tally(3, 10)["ticks"]
    sinks = workloads._sinks(str(tmp_path / "drain"))
    assert workloads.check_stream(spark, sinks, dict(gen.tick_tally(3, 10), alert=4))


def test_query_mix_checks_generated_tables_against_oracles(traced_spark, tmp_path):
    import workloads

    from cryptocurrency_data_pipeline_spark.queries import QUERIES

    spark, _ = traced_spark
    sf_dir = str(tmp_path / "tables")
    workloads.write_query_tables(2, sf_dir)
    results = {}
    for name in ("text_stats_docs", "cosine_topk", "stream_snapshot_sink_replay"):
        df = QUERIES[name](spark, sf_dir)
        results[name] = (df.columns, [tuple(r) for r in df.collect()])
    artifacts = str(tmp_path / "artifacts")
    problems = workloads.check_queries(sf_dir, results, artifacts)
    assert problems == dict.fromkeys(results, [])

    # A dropped row is reported, not silently accepted.
    cols, rows = results["cosine_topk"]
    bad = workloads.check_queries(sf_dir, {"cosine_topk": (cols, rows[1:])}, artifacts)
    assert bad["cosine_topk"]


def test_event_log_fold_on_a_tagged_run(traced_spark):
    import workloads
    from pyspark.sql.functions import pandas_udf

    spark, log_dir = traced_spark
    tracer = tracing.Tracer(spark)
    with tracer.span("iteration"):
        with tracer.span("transform"):
            spark.range(0, 10_000, 1, 4).selectExpr("sum(id)").collect()
        time.sleep(0.05)
        with tracer.span("aggregate"):
            spark.range(0, 10_000, 1, 4).selectExpr("id % 7 AS k").groupBy(
                "k"
            ).count().collect()

    @pandas_udf("long")
    def plus_one(s):
        time.sleep(0.05)
        return s + 1

    with tracer.span("q.python"):
        spark.range(0, 100, 1, 2).select(plus_one("id").alias("x")).agg({"x": "sum"}).collect()
    _drain_listener_bus(spark)
    log = tracing.EventLog.parse(tracing.read_event_log(log_dir))
    (python_span,) = [s for s in tracer.spans if s.name == "q.python"]
    counters = log.task_counters(log.jobs_between(python_span.start, python_span.end))
    assert counters["python_worker_s"] > 0  # ArrowEvalPython plan metric
    layer = workloads.etl_layer_fold(log, tracer.spans, landing_bytes=1)
    assert layer["transform.jobs"] >= 1 and layer["transform.tasks"] >= 4
    assert layer["aggregate.shuffle_bytes"] > 0  # the groupBy exchange
    assert layer["quality.jobs"] == layer["dqdl.jobs"] == 0
    groups = {j["group"] for j in log.jobs.values()}
    assert {"transform", "aggregate"} <= groups
    names = {m["name"] for m in _spec()["per_layer"]}
    assert set(layer) <= names
