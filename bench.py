"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q": median_sec, ...}, "sf": <sf>}

The raw per-pass timings go to the BENCH_PASSES.json sidecar (not the
stdout line: round 5's artifact failed to parse because the inline
passes block pushed the one-line JSON past the driver's tail capture).

Each query executes to completion via the noop sink (full pipeline runs,
nothing materializes on the driver — measures engine time, not collect()).

Per-query numbers are the MEDIAN of three timed passes (after two untimed
warm-ups): single-pass timings on a shared box conflate engine regressions
with load spikes — BASELINE.md documents the same commit measuring 19.3 s
idle vs 39.0 s loaded — and the median of three absorbs one-off spikes
while keeping the run short.

HARNESS CHANGE (r15, measurement-bug fix per the r14 verdict): every
query execution — warm-up and timed — is followed by a cache release
(every persist and local checkpoint in the ``operators/caching.py``
registry, then ``spark.catalog.clearCache``) OUTSIDE the timed region.
Before this, Spark's CacheManager substituted warm-up-populated
InMemoryRelations into the timed passes by canonicalized-plan equality,
so persist-heavy queries timed cache reads instead of compute
(hashed_vector_topk read 0.67 s with warm caches vs its honest recompute
cost). r14 and earlier BENCH artifacts are therefore NOT comparable
per-query to r15+ for queries whose pipelines persist; the r15
re-baseline in BASELINE.md records both series.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from cryptocurrency_data_pipeline_spark.operators import caching  # noqa: E402
from cryptocurrency_data_pipeline_spark.queries import QUERIES  # noqa: E402
from cryptocurrency_data_pipeline_spark.session import get_spark  # noqa: E402


def _release_caches(spark) -> None:
    """Drop every cache a query execution may have left behind.

    Spark's CacheManager substitutes cached plans by canonicalized plan
    equality across INVOCATIONS, so without this a timed pass of a query
    whose pipeline persists an intermediate would read the warm-up's
    InMemoryRelation instead of recomputing — the median would measure
    cache reads, not engine speed (r14 verdict: gaming_suspected).
    Called OUTSIDE the timed region, after every query execution (warm-up
    and timed), so each timed invocation computes from the parquet inputs.
    Within one invocation a persist still works normally — that reuse
    happens inside the timed region and is legitimate.
    """
    caching.release_all(spark)
    spark.catalog.clearCache()

#: Headline set: one per operator family, weighted toward the heavy paths.
HEADLINE = [
    "flagship_daily_rollup",      # window dedup + rollup
    "pricing_summary",            # wide hash agg
    "star_revenue_by_nation",     # multi-join star query
    "top_orders_by_value",        # top-k
    "window_user_deltas",         # full window-function pass
    "dq_profile_lineitem",        # single-pass profile
    "asof_last_view",             # as-of join
    "threshold_routing_bad",      # vectorized rule engine
    "text_stats_docs",            # text analysis suite
    "minhash_near_dups",          # MinHash+LSH dedup
    "winnow_near_dups",           # winnowing fingerprint-overlap dedup
    "dup_clusters",               # connected-components duplicate clustering
    "cosine_topk",                # brute-force similarity
    "ann_srp_topk",               # bucketed ANN
    "ivf_ann_topk",               # IVF-flat ANN (numpy-vectorized assignment)
    "vocab_top_terms",            # corpus vocabulary build
    "tfidf_top_term_per_doc",     # TF-IDF scoring + per-doc argmax
    "bigram_logprob_docs",        # bigram-LM doc scoring (perplexity filter)
    "local_supplier_volume",      # Q5-shape multi-dim star join
    "top_orders_per_customer",    # per-group top-k (WindowGroupLimit)
    # Round-4/5 heavy paths (appended; the original 20 keep their order
    # for round-over-round continuity):
    "semantic_dedup_keep",        # SemDeDup cluster-keyed pair join
    "exact_substring_spans",      # Lee et al. gram window + span merge
    "fuzzy_part_name_pairs",      # q-gram blocking join (df-cap active)
    "dsir_source_weights",        # DSIR hashed-bucket importance weights
    "stream_ohlc_replay",         # streaming window math, batch replay
    "pagerank_doc_graph",         # iterative rank over the dup graph
    # Round-5 additions (appended; prior order kept for continuity):
    "gif_decode_rollup",          # LZW encode+decode mapInPandas round-trip
    "quality_classifier_scores",  # hashed linear model, broadcast weights
    "boilerplate_segment_stats",  # cross-doc segment-hash dedup
    "bpe_apply_token_stats",      # JVM-only BPE merge passes
    "pq_adc_topk",                # PQ train + encode + ADC search
    "ivfpq_topk",                 # composed IVF coarse lists + PQ ADC
    "jpeg_decode_rollup",         # full JPEG entropy encode+decode
    "gif_anim_rollup",            # multi-frame LZW walk
    "hashed_vector_topk",         # hashing vectorizer + cosine top-k
    "ts_paa_similarity_topk",     # PAA time-series similarity search
    "jaccard_shingle_pairs",      # PPJoin prefix-filtered exact Jaccard
    "doc_graph_triangles",        # degree-oriented triangle census
    "web_corpus_ingest_report",   # WARC -> HTTP -> HTML -> dedup -> split
    "zip_manifest_rollup",        # archive manifest + CRC audit
    # Round-6 additions (appended; prior order kept for continuity):
    "pq_adc_topk_served",         # PQ serving path, persisted codebook
    "ivfpq_topk_served",          # IVFPQ serving path, persisted index
    "rfm_customer_segments",      # distributed ntile via partition-offset rank
    "value_concentration_gini",   # rank-identity Gini, no global window
    "exact_rank_quantiles_by_type",  # grouped partition-offset rank selection
    # Late round-6 additions (appended; the 45-query subtotal above stays
    # comparable to the BASELINE.md round-6 band):
    "histogram_quantile_rollup",  # mergeable bin-count quantile state
    "consistent_reshard_stability",  # rendezvous vs mod reshard movement
    # Round-7 additions (appended; prior order kept for continuity) — the
    # round-6 table-format/matview layer gets bench representatives:
    "stats_pruned_scan",          # file-stats manifest data skipping
    "mergeable_sketch_rollup",    # incremental matview partial merge
    "partition_change_feed",      # fingerprint-pruned snapshot diff
    "merge_into_orders",          # row-level MERGE, copy-on-write publish
    # Round-8 addition (appended; prior order kept for continuity):
    "stream_snapshot_sink_replay",  # sink seed/replay/merge/late cycle
]

#: Write-path fixtures: snapshot-layer cycles whose wall time measures
#: DRIVER JOB COUNT (seed/merge/publish/replay sequences — ~28 jobs for
#: the sink replay), not per-operator engine throughput.  Grouped apart
#: so the continuity series stays comparable round over round: one
#: 8-second job-bound fixture inside the headline subtotal would drown
#: a 10% regression on any real operator.  The split matches the
#: BASELINE.md "47-query continuity subtotal" used since round 7.
WRITE_PATH = {
    "stats_pruned_scan",
    "mergeable_sketch_rollup",
    "partition_change_feed",
    "merge_into_orders",
    "stream_snapshot_sink_replay",
}


def _calibration_sec(spark) -> float:
    """Host-speed probe: median of three timed passes of a FIXED
    data-independent workload (sum over a 32-partition 50M range —
    exercises scheduler + codegen + all cores, no I/O), after one
    untimed warm-up.  Recorded at bench start AND end so a loaded or
    thermally-throttled box is visible in the artifact itself, and
    cross-round ratios can be normalized mechanically
    (observed_total x reference_calibration / observed_calibration)
    instead of by hand-noting "the box read ~1.2x that day"."""
    import time as _time

    def one() -> None:
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(id * 2 + 1) AS s"
        ).collect()

    one()
    ts = []
    for _ in range(3):
        t0 = _time.perf_counter()
        one()
        ts.append(_time.perf_counter() - t0)
    return round(sorted(ts)[1], 4)


#: Calibration gate (r14, the r13 verdict's ask #3): both r13 closing
#: bench runs were defeated by minute-scale load bursts landing exactly
#: on run start (calibration 0.388/0.412 vs ~0.11 settled), so the gate
#: moved INSIDE bench.py — wait-then-probe until two consecutive
#: calibrations at or under the threshold IMMEDIATELY before the first
#: timed pass, bounded so a persistently-loaded host still produces an
#: artifact (with the gate marked failed) rather than hanging the driver.
GATE_THRESHOLD = float(os.environ.get("SPARK_GRAFT_CAL_GATE", "0.18"))
GATE_MAX_WAIT_SEC = float(os.environ.get("SPARK_GRAFT_CAL_MAX_WAIT", "600"))
GATE_SLEEP_SEC = 12.0


def _calibration_gate(spark) -> tuple[float, list[float], bool]:
    """Probe until two CONSECUTIVE calibrations <= GATE_THRESHOLD (a
    single quiet probe can be the trough between two load bursts), or
    the wait budget runs out.  Returns (last probe, every attempt,
    passed) — every attempt lands in the artifact so a failed gate is
    evidence, not an anecdote."""
    attempts: list[float] = []
    deadline = time.monotonic() + GATE_MAX_WAIT_SEC
    streak = 0
    while True:
        c = _calibration_sec(spark)
        attempts.append(c)
        streak = streak + 1 if c <= GATE_THRESHOLD else 0
        if streak >= 2:
            return c, attempts, True
        if time.monotonic() >= deadline:
            return c, attempts, False
        time.sleep(GATE_SLEEP_SEC)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Parse the scale factor out of a canonical "sf<number>" basename; any
    # other layout reports sf=-1 rather than crashing before the run starts.
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", Path(sf_dir).name)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen once on a trivial action so query timings do not
    # include session bring-up.
    spark.range(1000).selectExpr("sum(id)").collect()

    # JMH-style: TWO untimed warm-up executions per query so the timed pass
    # measures steady-state engine throughput, not one-off Janino codegen
    # compilation (~3-6 s on the expression-heavy text/minhash queries) or
    # partially-JIT-tiered iterative loops — dup_clusters in particular
    # runs ~25 jobs (checkpoint + convergence action per round) and
    # measured 24 s cold / 5.9 s after one pass / 3.5 s steady; one
    # warm-up leaves it mid-tier and donated 3-6 s of pure JIT noise to
    # every recorded total.
    for _ in range(2):
        for name in HEADLINE:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            _release_caches(spark)

    # Gate immediately before the first timed pass (warm-ups above are
    # load-insensitive; the timed medians are what the gate protects).
    calibration_start, gate_attempts, gate_passed = _calibration_gate(spark)

    passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(3):
        for name in HEADLINE:
            fn = QUERIES[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            passes[name].append(round(time.perf_counter() - t0, 3))
            _release_caches(spark)  # outside the timed region

    timings = {name: sorted(ts)[1] for name, ts in passes.items()}
    calibration_end = _calibration_sec(spark)
    # Raw passes to a sidecar so the stdout artifact stays parseable.
    with open(Path(__file__).resolve().parent / "BENCH_PASSES.json", "w") as f:
        json.dump({"sf": sf, "passes": passes}, f)
    print(
        json.dumps(
            {
                "metric": "headline query wall-clock, noop sink, median of 3",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "continuity_subtotal": round(
                    sum(t for n, t in timings.items() if n not in WRITE_PATH),
                    3,
                ),
                "write_path_subtotal": round(
                    sum(t for n, t in timings.items() if n in WRITE_PATH), 3
                ),
                "calibration_start_sec": calibration_start,
                "calibration_end_sec": calibration_end,
                "calibration_gate": {
                    "threshold_sec": GATE_THRESHOLD,
                    "attempts": gate_attempts,
                    "passed": gate_passed,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
