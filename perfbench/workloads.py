"""The benchmark's workloads.

* ``medallion``: the medallion ETL re-run over existing silver/gold state
  and the streaming router (backlog drains, and live windows fed at a
  fixed rate), interleaved in rounds in one session.
* ``query_mix``: one cold pass over one oracle-backed query per operator
  family, on tables the seeded generator writes.

Each renders its inputs from the seed, sets up, measures, and checks every
output against the generator's tallies or the query's DuckDB oracle.

Sizes are chosen so one run, JVM start included, stays under 90 s on 4
cores: the benchmark runs each workload 22 times within a fixed budget.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import threading
import time
import traceback
from dataclasses import dataclass, field

import gen
from tracing import (
    EventLog,
    batch_commits,
    file_batches,
    file_latencies,
    fold_spans,
    median,
    percentile,
)

from cryptocurrency_data_pipeline_spark.operators import dqdl
from cryptocurrency_data_pipeline_spark.plans import etl
from cryptocurrency_data_pipeline_spark.plans.runner import StageStatus
from cryptocurrency_data_pipeline_spark.schemas import DLQ_RECORD
from cryptocurrency_data_pipeline_spark.streaming.pipeline import (
    StreamSinks,
    run_validation_pipeline,
)

#: medallion: stream steps (a live window, then a backlog drain, in turn),
#: each followed by an ETL re-run.  Each end-to-end metric is the median
#: of its samples, which are spread over the run, so a host slowdown that
#: spans one of them moves none of the metrics.
STREAM_STEPS = 4
#: medallion ETL: distinct coins in the state, spread over base files.
MERGE_COINS, MERGE_BASE_FILES = 5_000, 3
#: medallion stream phase 1: backlog files x normal ticks.
DRAIN_FILES, DRAIN_TICKS = 12, 2_500
#: medallion stream phase 2: live windows (every other stream step), the
#: open-loop spacing of landings (2/3 files/s) and ticks per file.  A
#: micro-batch costs 0.7-1.3 s on 4 cores whatever its size, so every file
#: lands on an idle router and gets a micro-batch of its own: each file's
#: latency is one independent sample of the per-batch cost.  At a rate the
#: router cannot keep idle for, files share batches and where a file falls
#: in its batch sets its latency.
LIVE_WINDOWS = STREAM_STEPS // 2
LIVE_SPACING_S, LIVE_TICKS = 1.5, 2_000

#: The reference's DQDL ruleset (glue/data_quality_dqdl.py), with its
#: RowCount bounds scaled to the input instead of the fixed 50..150.
ETL_RULESET = """
Rules = [
    ColumnExists "coin_id",
    ColumnExists "current_price",
    ColumnExists "market_cap",
    ColumnExists "symbol",
    ColumnExists "name",
    IsComplete "coin_id",
    IsComplete "symbol",
    IsComplete "name",
    IsComplete "current_price",
    IsComplete "market_cap",
    IsPrimaryKey "coin_id",
    ColumnValues "current_price" > 0,
    ColumnValues "market_cap" > 0,
    RowCount between {lo} and {hi},
    Completeness "current_price" > 0.95,
    Completeness "market_cap" > 0.95,
    Uniqueness "coin_id" > 0.99
]
"""

ETL_LAYERS = ("transform", "quality", "aggregate", "dqdl")


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: object = None  # tracing.Tracer in the traced run
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def outcome(self, problems: list[str], what: str) -> bool:
        """Count one attempted operation; record its problems, if any."""
        self.attempted += 1
        self.failed += bool(problems)
        self.problems += [f"{what}: {p}" for p in problems]
        return not problems

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def _rm(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


# --- ETL ---------------------------------------------------------------------


def etl_paths(root: str) -> etl.EtlPaths:
    j = lambda *p: os.path.join(root, *p)  # noqa: E731
    return etl.EtlPaths(
        bronze=j("bronze"),
        silver=j("silver"),
        dlq=j("dlq"),
        metrics=j("metrics"),
        gold_fact=j("gold", "fact"),
        gold_dim_coins=j("gold", "dim_coins"),
        gold_dim_date=j("gold", "dim_date"),
    )


def _outputs(p: etl.EtlPaths) -> list[str]:
    return [p.silver, p.dlq, p.metrics, os.path.dirname(p.gold_fact)]


def dqdl_gate(spark, silver_path: str, n_rows: int) -> dict:
    """The DQDL gate over landed silver: dataset rules abort on failure,
    row rules tag every row; returns rows per verdict."""
    ruleset = ETL_RULESET.format(lo=n_rows // 2, hi=n_rows * 2)
    _, tagged = dqdl.evaluate(
        spark.read.parquet(silver_path), ruleset, raise_on_failure=True
    )
    return {r[0]: r[1] for r in tagged.groupBy("dq_result").count().collect()}


def check_etl(spark, p: etl.EtlPaths, exp: dict, verdicts: dict) -> list[str]:
    """Exact tallies against the generator's keep-latest expectation."""
    got = {}
    row = (
        spark.read.parquet(p.silver)
        .selectExpr(
            "count(*)",
            "sum(cast(round(current_price * 100) AS bigint))",
            "sum(crc32(concat_ws('|', coin_id,"
            " cast(cast(round(current_price * 100) AS bigint) AS string))))",
        )
        .first()
    )
    got["silver_rows"], got["silver_cents_sum"], got["silver_crc_sum"] = row
    got["dlq"] = dict(
        sorted(
            (r[0], r[1])
            for r in spark.read.schema(DLQ_RECORD).json(p.dlq)
            .groupBy("error_reason")
            .count()
            .collect()
        )
    )
    got["fact_rows"] = spark.read.parquet(p.gold_fact).count()
    got["dim_coin_rows"], got["renamed_coins"] = (
        spark.read.parquet(p.gold_dim_coins)
        .selectExpr("count(*)", f"count_if(startswith(name, '{gen.RENAME_PREFIX}'))")
        .first()
    )
    got["dim_date_rows"] = spark.read.parquet(p.gold_dim_date).count()
    problems = [
        f"{k}: got {got[k]!r}, expected {exp[k]!r}" for k in got if got[k] != exp[k]
    ]
    if verdicts != {"Passed": exp["silver_rows"]}:
        problems.append(f"dqdl verdicts {verdicts}, expected all Passed")
    return problems


def etl_iteration(ctx: Ctx, p: etl.EtlPaths, exp: dict, what: str, check: bool = True):
    """One ``Pipeline.run`` plus the DQDL gate; returns the sample
    ``(wall_s, {stage: seconds}, gate_s, gate verdicts)`` or None when it
    failed.  With ``check``, the outputs are also checked against ``exp``."""
    spark = ctx.spark
    pipeline = etl.build_etl_pipeline(spark, p)
    if ctx.tracer is not None:
        ctx.tracer.wrap_stages(pipeline)
    t0 = time.perf_counter()
    results = pipeline.run()
    failed = [f"{r.name}: {r.error}" for r in results if r.status != StageStatus.SUCCEEDED]
    verdicts, gate_s = {}, 0.0
    if not failed:
        t1 = time.perf_counter()
        try:
            with ctx.span("dqdl"):
                verdicts = dqdl_gate(spark, p.silver, exp["silver_rows"])
        except Exception as exc:  # the gate's abort is a counted failure
            failed.append(f"dqdl: {type(exc).__name__}: {exc}")
        gate_s = time.perf_counter() - t1
    wall = time.perf_counter() - t0
    problems = failed or (check_etl(spark, p, exp, verdicts) if check else [])
    if not ctx.outcome(problems, what):
        return None
    return wall, {r.name: r.seconds for r in results}, gate_s, verdicts


def etl_layer_fold(log: EventLog, spans, landing_bytes: int) -> dict:
    """Fold only the layer spans of measured iterations (not the base
    load), per iteration."""
    iters = [s for s in spans if s.name == "iteration"]
    measured = [
        s for s in spans if any(i.start <= s.start <= i.end for i in iters)
    ]
    out = fold_spans(log, measured, ETL_LAYERS)
    out["transform.scan_amplification"] = out["transform.input_bytes"] / landing_bytes
    return out


class EtlRerun:
    """The medallion ETL over existing state.  Setting up renders the
    bronze files and runs the first load; each round restores the
    silver/gold state that load left and re-runs the pipeline, after one
    more landing file renamed ~10% of the coins and added ~1%."""

    def __init__(self, ctx: Ctx, root: str):
        self.ctx, self.p = ctx, etl_paths(root)
        self.state = os.path.join(root, "state")
        self.keep = (self.p.silver, os.path.dirname(self.p.gold_fact))
        delta = os.path.join(root, "delta")
        (base_exp, self.exp), self.gen_s = _timed(
            gen.make_merge_wide, ctx.seed, self.p.bronze, delta, MERGE_COINS, MERGE_BASE_FILES
        )
        _, self.state_s = _timed(self._first_load, base_exp, delta)
        self.samples, self.prep_s = [], []

    def _first_load(self, base_exp: dict, delta: str) -> None:
        if etl_iteration(self.ctx, self.p, base_exp, "first load") is None:
            raise RuntimeError(f"first load failed: {self.ctx.problems}")
        for d in self.keep:
            shutil.copytree(d, os.path.join(self.state, os.path.basename(d)))
        for name in os.listdir(delta):
            os.rename(os.path.join(delta, name), os.path.join(self.p.bronze, name))

    def _restore(self) -> None:
        _rm(*_outputs(self.p))
        for d in self.keep:
            shutil.copytree(os.path.join(self.state, os.path.basename(d)), d)
        self.ctx.spark.sparkContext._jvm.System.gc()  # no collection debt carried in
        os.sync()  # nor writeback of the restored files

    def round(self, r: int, last: bool) -> None:
        self.prep_s.append(_timed(self._restore)[1])
        with self.ctx.span("iteration"):
            s = etl_iteration(self.ctx, self.p, self.exp, f"etl run {r}", check=False)
        if s is None:
            return
        self.samples.append(s)
        # Every run redoes the same work: checking the outputs the last one
        # left (and the first load's) leaves run time for more samples.
        if last:
            self.ctx.outcome(check_etl(self.ctx.spark, self.p, self.exp, s[3]), "last etl run")

    def results(self) -> dict:
        samples = self.samples
        e2e = {
            "setup_s": self.gen_s + self.state_s + median(self.prep_s),
            "wall_s": median([s[0] for s in samples] or [float("nan")]),
        }
        layer = {
            f"runner.{name}_s": median([s[1].get(name, 0.0) for s in samples] or [0.0])
            for name in ("transform", "quality", "aggregate")
        }
        layer["dqdl.gate_s"] = median([s[2] for s in samples] or [0.0])
        layer["etl.harness_s"] = median(
            [s[0] - sum(s[1].values()) - s[2] for s in samples] or [0.0]
        )
        bronze_bytes = self.exp["bronze_bytes"]
        return {"e2e": e2e, "layer": layer,
                "fold": lambda log: etl_layer_fold(log, self.ctx.tracer.spans, bronze_bytes),
                "setup": {"gen_s": self.gen_s, "state_s": self.state_s,
                          "prep_s": self.prep_s, "samples": samples}}


# --- streaming router ----------------------------------------------------------


def _sinks(root: str) -> StreamSinks:
    j = lambda n: os.path.join(root, n)  # noqa: E731
    return StreamSinks(j("good"), j("bad"), j("alert"), j("corrupt"), j("checkpoint"))


def check_stream(spark, sinks: StreamSinks, exp: dict) -> list[str]:
    """The four-way routing tallies (the JSON sinks hold one row a line)."""
    got = {
        "good": spark.read.parquet(sinks.good).count(),
        "bad": spark.read.text(sinks.bad).count(),
        "alert": spark.read.text(sinks.alert).count(),
        "corrupt": spark.read.text(sinks.corrupt).count(),
    }
    return [f"{k}: got {v}, expected {exp[k]}" for k, v in got.items() if v != exp[k]]


def _progress_dicts(query) -> list[dict]:
    """Every progress record of ``query``, which ran from a fresh
    checkpoint.  Spark keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` of them; run.py raises
    that cap, and a list that lost its head still fails loudly here."""
    out = [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]
    if out and min(p["batchId"] for p in out) > 0:
        raise ValueError(
            f"progress list trimmed: first kept batch is {out[0]['batchId']}"
        )
    return out


def _drain(ctx: Ctx, backlog: list[str], root: str, what: str, n_normal: int,
           check: bool = True):
    """Phase 1: drain a pre-landed backlog with ``availableNow``; with
    ``check``, the sinks are checked against the backlog's tallies."""
    src = os.path.join(root, "in")
    os.makedirs(src)
    for f in backlog:
        os.link(f, os.path.join(src, os.path.basename(f)))
    sinks = _sinks(root)
    t0 = time.perf_counter()
    q = run_validation_pipeline(ctx.spark, src, sinks, available_now=True)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    try:
        if q.exception() is not None:
            raise ValueError(f"query failed: {q.exception()}")
        progresses = _progress_dicts(q)
    except ValueError as exc:
        ctx.outcome([str(exc)], what)
        return None
    problems = (
        check_stream(ctx.spark, sinks, gen.tick_tally(len(backlog), n_normal)) if check else []
    )
    return (wall, progresses) if ctx.outcome(problems, what) else None


def _land(staged: list[str], src: str, t0: float, spacing: float, late: list, due: dict):
    """Open loop: file i is due at ``t0 + i * spacing`` and lands atomically
    by rename from the staging directory, whatever the router is doing."""
    for i, f in enumerate(staged):
        t_due = t0 + i * spacing
        delay = t_due - time.time()
        if delay > 0:
            time.sleep(delay)
        dst = os.path.join(src, os.path.basename(f))
        os.rename(f, dst)
        late.append(time.time() - t_due)
        due[dst] = t_due


def _await_commits(q, ckpt: str, n_files: int, stop: threading.Event | None = None) -> None:
    """Wait until ``n_files`` files are in micro-batches and the batch
    holding the last of them has committed (or the query failed, or
    ``stop`` was set)."""
    deadline = time.time() + 120
    while time.time() < deadline and q.exception() is None:
        if stop is not None and stop.is_set():
            return
        batches = file_batches(ckpt)
        if len(batches) >= n_files and os.path.exists(
            os.path.join(ckpt, "commits", str(max(batches.values())))
        ):
            return
        time.sleep(0.02)


def _live(ctx: Ctx, staged: list[str], root: str, check: bool = True) -> dict:
    """Phase 2: a running router fed at a fixed rate; per-file latency
    from due time to the commit of the micro-batch holding it.  The first
    staged file is the ramp: it lands alone and its micro-batch (the
    query's first, cold in the session's first window) commits before the
    schedule of the measured files starts.  With ``check``, the sinks are
    checked against the landed files' tallies."""
    src = os.path.join(root, "in")
    os.makedirs(src)
    sinks = _sinks(root)
    ckpt = os.path.join(sinks.checkpoint, "router")
    late, due = [], {}
    with ctx.span("stream.live"):
        q = run_validation_pipeline(ctx.spark, src, sinks, available_now=False)
        try:
            os.rename(staged[0], os.path.join(src, os.path.basename(staged[0])))
            _await_commits(q, ckpt, 1)
            lander = threading.Thread(
                target=_land,
                args=(staged[1:], src, time.time() + 0.2, LIVE_SPACING_S, late, due),
            )
            lander.start()
            lander.join()
            _await_commits(q, ckpt, len(staged))
        finally:
            q.stop()
    problems = [] if q.exception() is None else [f"query failed: {q.exception()}"]
    lat, lag_end, first_batch, progresses = [], float("nan"), 0, []
    if not problems:
        batch_of = file_batches(ckpt)
        try:
            progresses = _progress_dicts(q)
            lat, lag_end = file_latencies(due, batch_of, batch_commits(progresses))
            first_batch = batch_of[next(iter(due))]
        except ValueError as exc:
            problems.append(str(exc))
    ctx.attempted += len(due)  # each measured landed file is one operation
    if not problems and check:
        problems = check_stream(ctx.spark, sinks, gen.tick_tally(len(staged), LIVE_TICKS))
    ctx.outcome(problems, "live phase")
    return {"latencies": lat, "lag_end_s": lag_end, "late": late,
            "progresses": [p for p in progresses if p["batchId"] >= first_batch]}


class Router:
    """The streaming router.  Setting up renders the tick files; even
    steps feed a fresh router at a fixed rate (phase 2), odd steps drain
    the backlog (phase 1)."""

    def __init__(self, ctx: Ctx, root: str):
        self.ctx, self.root = ctx, root
        rng = random.Random(ctx.seed)
        # --seconds of landings are measured, split over the live windows;
        # each window also stages its ramp file.
        n_files = 1 + max(round(ctx.seconds / LIVE_SPACING_S / LIVE_WINDOWS), 4)

        def render():
            backlog = gen.render_tick_files(
                rng, os.path.join(root, "backlog"), "backlog", DRAIN_FILES, DRAIN_TICKS
            )
            staged = [
                gen.render_tick_files(
                    rng, os.path.join(root, f"staging{w}"), f"live{w}", n_files, LIVE_TICKS
                )
                for w in range(LIVE_WINDOWS)
            ]
            return backlog, staged

        (self.backlog, self.staged), self.gen_s = _timed(render)
        self.drains, self.lives, self.prep_s = [], [], []

    def _prep(self, name: str) -> str:
        self.ctx.spark.sparkContext._jvm.System.gc()  # no collection debt carried in
        root = os.path.join(self.root, name)
        os.makedirs(root)
        return root

    @contextlib.contextmanager
    def warming(self):
        """Set-up: while the body runs, feed a fresh router closed loop, one
        micro-batch at a time: the backlog first, then one backlog file per
        batch.  The per-batch path takes ~8 micro-batches to warm up, so
        without this the first live window's latencies and the first
        drain read 15-40% slower than later ones."""
        root = self._prep("warm")
        src = os.path.join(root, "in")
        os.makedirs(src)
        sinks = _sinks(root)
        ckpt = os.path.join(sinks.checkpoint, "router")
        stop = threading.Event()
        q = run_validation_pipeline(self.ctx.spark, src, sinks, available_now=False)

        def feed():
            files = list(self.backlog)
            while not stop.is_set() and q.exception() is None:
                for f in files:  # a link is a complete file as it appears
                    os.link(f, os.path.join(src, f"warm{len(os.listdir(src)):05d}.json"))
                _await_commits(q, ckpt, len(os.listdir(src)), stop)
                files = self.backlog[:1]

        feeder = threading.Thread(target=feed)
        feeder.start()
        try:
            yield
        finally:
            stop.set()
            feeder.join()
            q.stop()
        problems = [] if q.exception() is None else [f"query failed: {q.exception()}"]
        self.ctx.outcome(problems, "router warm-up")

    def step(self, r: int) -> None:
        """Stream step ``r``: a live window when even, a drain when odd.
        Every drain and every live window redoes the same work, so only
        the sinks of the last of each are checked."""
        if r % 2 == 0:
            w = r // 2
            self.lives.append(_live(self.ctx, self.staged[w], self._prep(f"live{w}"),
                                    check=w == LIVE_WINDOWS - 1))
            return
        root, took = _timed(self._prep, f"drain{r}")
        self.prep_s.append(took)
        with self.ctx.span("stream.drain"):
            d = _drain(self.ctx, self.backlog, root, f"drain {r}", DRAIN_TICKS,
                       check=r == STREAM_STEPS - 1)
        if d is not None:
            self.drains.append(d)

    def results(self) -> dict:
        drains, lives = self.drains, self.lives
        ticks = len(self.backlog) * (DRAIN_TICKS + 4)
        lat_ms = [1000 * x for live in lives for x in live["latencies"]] or [float("nan")]
        e2e = {
            "setup_s": self.gen_s + median(self.prep_s),
            "records_per_s": median([ticks / w for w, _ in drains] or [float("nan")]),
            # Each measured file had a micro-batch of its own: the samples
            # are independent, so they pool over the windows.
            "latency_p50_ms": median(lat_ms),
        }
        data = [[p for p in live["progresses"] if p.get("numInputRows")] for live in lives]
        # Per window: from the start of its first measured micro-batch to
        # its last commit.
        windows = []
        for batches in data:
            commits = batch_commits(batches)
            if batches:
                windows.append((
                    min(commits[p["batchId"]] - p["durationMs"]["triggerExecution"] / 1000
                        for p in batches),
                    max(commits.values()),
                ))
        flat = [p for batches in data for p in batches]
        dur = lambda key: median([p["durationMs"].get(key, 0) for p in flat] or [0.0])  # noqa: E731
        layer = {
            "stream.batches": float(len(flat)),
            "stream.rows_per_batch_p50": median([p["numInputRows"] for p in flat] or [0.0]),
            "stream.trigger_ms_p50": dur("triggerExecution"),
            "stream.add_batch_ms_p50": dur("addBatch"),
            "stream.latest_offset_ms_p50": dur("latestOffset"),
            "stream.query_planning_ms_p50": dur("queryPlanning"),
            "stream.wal_commit_ms_p50": dur("walCommit"),
            "stream.commit_offsets_ms_p50": dur("commitOffsets"),
            "stream.drain_add_batch_ms": median(
                [p["durationMs"].get("addBatch", 0) for _, ps in drains for p in ps
                 if p.get("numInputRows")] or [0.0]
            ),
            "stream.latency_p90_ms": percentile(lat_ms, 90),
            "stream.lag_end_s": max(live["lag_end_s"] for live in lives),
            "gen.late_ms_p99": 1000 * percentile(
                [x for live in lives for x in live["late"]] or [0.0], 99
            ),
        }
        sinks = [_sinks(os.path.join(self.root, f"live{w}")) for w in range(len(lives))]
        return {"e2e": e2e, "layer": layer,
                "fold": lambda log: stream_layer_fold(log, windows, sinks, len(flat)),
                "setup": {"gen_s": self.gen_s, "prep_s": self.prep_s,
                          "drain_s": [w for w, _ in drains],
                          "live_trigger_ms": [[p["durationMs"]["triggerExecution"]
                                               for p in batches] for batches in data]}}


def stream_layer_fold(log: EventLog, windows, sinks: list, batches: float) -> dict:
    """Per measured live micro-batch: jobs, task CPU and each sink's write
    seconds, over what was submitted in each live window (epoch seconds,
    with that window's sinks) by ``batches`` micro-batches in all."""
    n = max(batches, 1.0)
    jobs = sorted({j for start, end in windows for j in log.jobs_between(start, end)})
    counters = log.task_counters(jobs)
    out = {"stream.jobs_per_batch": counters["jobs"] / n, "stream.cpu_s": counters["cpu_s"] / n}
    for name in ("good", "bad", "alert", "corrupt"):
        out[f"sink.{name}_s"] = sum(
            log.sql_seconds_matching(start, end, getattr(sk, name))
            for (start, end), sk in zip(windows, sinks)
        ) / n
    return out


# --- medallion: the batch pipeline and the streaming router -------------------------


def medallion(ctx: Ctx) -> dict:
    """The paper's product in one session: the ETL re-run gives ``wall_s``,
    the router's backlog drains ``records_per_s`` and its live windows
    ``latency_p50_ms``.  After set-up, stream steps (a live window or a
    drain, in turn) alternate with ETL re-runs, so each metric's samples
    are spread over the run and a passing host slowdown rarely covers most
    of them."""
    router = Router(ctx, os.path.join(ctx.work, "stream"))
    with router.warming():
        etl_part = EtlRerun(ctx, os.path.join(ctx.work, "etl"))
    for r in range(STREAM_STEPS):
        router.step(r)
        etl_part.round(r, last=r == STREAM_STEPS - 1)
    etl_res, stream_res = etl_part.results(), router.results()
    e2e = {**etl_res["e2e"], **stream_res["e2e"]}
    e2e["setup_s"] = etl_res["e2e"]["setup_s"] + stream_res["e2e"]["setup_s"]
    return {
        "e2e": e2e,
        "layer": {**etl_res["layer"], **stream_res["layer"]},
        "fold": lambda log: {**etl_res["fold"](log), **stream_res["fold"](log)},
        "setup": {"etl": etl_res["setup"], "stream": stream_res["setup"]},
    }


# --- query mix -----------------------------------------------------------------

#: One oracle-backed query per operator family, with the table it reads:
#: text; dedup + graph (MinHash pairs into connected components); setjoin;
#: pq; similarity; semdedup + clustering (coarse assignment); jpeg;
#: streaming.snapshot_sink + maintenance (snapshot merges).  The last one
#: is a write-path query.
QUERY_MIX = {
    "text_stats_docs": "documents",
    "dup_clusters": "documents",
    "jaccard_shingle_pairs": "documents",
    "pq_adc_topk": "embeddings",
    "cosine_topk": "embeddings",
    "semantic_dedup_keep": "embeddings",
    "jpeg_decode_rollup": "part",
    "stream_snapshot_sink_replay": "orders",
}
QUERY_TABLE_ROWS = {"documents": 240, "embeddings": 400, "part": 120, "orders": 1600}


def write_query_tables(seed: int, sf_dir: str) -> None:
    """The generator's tables as parquet, typed like the engine's test tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas = {
        "documents": [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                      ("source", pa.string()), ("n_chars", pa.int64())],
        "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                       ("label", pa.int32())],
        "part": [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                 ("p_type", pa.string()), ("p_size", pa.int32()),
                 ("p_retailprice", pa.float64())],
        "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())],
    }
    os.makedirs(sf_dir)
    for name, cols in gen.query_tables(seed, QUERY_TABLE_ROWS).items():
        schema = pa.schema(schemas[name])
        table = pa.table({f.name: pa.array(cols[f.name], f.type) for f in schema}, schema)
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def check_queries(sf_dir: str, results: dict, artifacts: str) -> dict[str, list[str]]:
    """Each query's rows against its DuckDB oracle over the same tables,
    compared the way the engine's oracle check does."""
    import duckdb

    from cryptocurrency_data_pipeline_spark.queries import ORACLES
    from tools.check_oracle import compare_results

    con = duckdb.connect()
    con.execute("SET threads = 4")
    for table in sorted(set(QUERY_MIX.values())):
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
        )
    problems = {}
    for name, (scols, srows) in results.items():
        rel = con.sql(ORACLES[name])
        problems[name] = compare_results(
            name, sf_dir, scols, srows, rel.columns, rel.fetchall(), root=artifacts
        )
    con.close()
    return problems


def query_mix(ctx: Ctx) -> dict:
    """One pass over the mix in a fresh session, as a batch job runs it:
    each query's rows are collected (and checked against its oracle after
    the pass), and caches are released between queries outside the timer."""
    import bench

    from cryptocurrency_data_pipeline_spark.queries import QUERIES

    spark = ctx.spark
    sf_dir = os.path.join(ctx.work, "tables")
    _, gen_s = _timed(write_query_tables, ctx.seed, sf_dir)
    results, times = {}, {}
    for name in QUERY_MIX:
        with ctx.span(f"q.{name}"):
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, sf_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:  # a failing query is a counted failure
                ctx.outcome([traceback.format_exc(limit=-3)], name)
            times[name] = time.perf_counter() - t0
        bench._release_caches(spark)
    artifacts = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results", "oracle")
    problems, check_s = _timed(check_queries, sf_dir, results, artifacts)
    for name, found in problems.items():
        ctx.outcome(found, name)

    wall = sum(times.values())
    rows_read = sum(QUERY_TABLE_ROWS[QUERY_MIX[n]] for n in QUERY_MIX)
    e2e = {
        "setup_s": gen_s,
        "wall_s": wall,
        "records_per_s": rows_read / wall,
        "latency_p50_ms": 1000 * median(list(times.values())),
    }
    layer = {f"q.{name}_s": s for name, s in times.items()}

    def fold(log: EventLog) -> dict:
        out, all_jobs = {}, []
        for s in ctx.tracer.spans:
            jobs = log.jobs_between(s.start, s.end)
            out[f"{s.name}.jobs"] = float(len(jobs))
            all_jobs += jobs
        counters = log.task_counters(sorted(set(all_jobs)))
        for k in ("python_worker_s", "shuffle_bytes", "spill_bytes", "gc_s"):
            out[f"query_mix.{k}"] = counters[k]
        return out

    return {"e2e": e2e, "layer": layer, "fold": fold,
            "setup": {"gen_s": gen_s, "check_s": check_s, "query_s": times}}


WORKLOADS = {
    "medallion": medallion,
    "query_mix": query_mix,
}
