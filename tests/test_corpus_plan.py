"""End-to-end corpus-preparation plan: gate -> dedup -> split -> pack -> shard."""

import json

from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.plans.corpus import (
    CorpusPaths,
    build_corpus_pipeline,
)
from cryptocurrency_data_pipeline_spark.plans.runner import StageStatus
from cryptocurrency_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _paths(tmp_path):
    return CorpusPaths(
        rejected=str(tmp_path / "rejected"),
        shards=str(tmp_path / "shards"),
    )


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select("doc_id", "text", "source")
    paths = _paths(tmp_path)
    events = []
    results = build_corpus_pipeline(
        spark, docs, paths, notifier=events.append
    ).run()

    assert [r.status for r in results] == [StageStatus.SUCCEEDED] * 5
    assert events[-1]["status"] == "SUCCEEDED"

    manifest = results[-1].output
    n_total = docs.count()
    n_rejected = spark.read.parquet(paths.rejected).count()
    sharded = spark.read.parquet(paths.shards)
    n_sharded = sharded.count()
    # conservation: every doc is rejected, deduped away, or sharded
    assert n_sharded + n_rejected <= n_total
    assert n_sharded > 0
    # the manifest agrees with what's on disk
    assert sum(e["n_rows"] for e in manifest["shards"]) == n_sharded
    on_disk = json.load(open(paths.shards + "/_manifest.json"))
    assert on_disk["n_shards"] == manifest["n_shards"] == 4
    # splits and packing columns survived to the sink
    assert {"split", "bin_id", "n_tokens"} <= set(sharded.columns)
    assert set(
        r.split for r in sharded.select("split").distinct().collect()
    ) <= {"train", "val", "test"}
    # shard-local token budget respected per (bucket, bin): every bin but
    # possibly the last per bucket holds <= capacity + one overflow doc
    per_bin = sharded.groupBy("bin_id").agg(F.sum("n_tokens").alias("t"))
    assert per_bin.count() >= 1


def test_corpus_pipeline_is_deterministic(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    r1 = build_corpus_pipeline(spark, docs, _paths(tmp_path / "a")).run()
    r2 = build_corpus_pipeline(spark, docs, _paths(tmp_path / "b")).run()
    m1, m2 = r1[-1].output, r2[-1].output
    assert m1["shards"] == m2["shards"]


def test_corpus_pipeline_skips_on_empty_input(spark, tmp_path):
    empty = spark.createDataFrame([], "doc_id long, text string")
    results = build_corpus_pipeline(spark, empty, _paths(tmp_path)).run()
    assert results[0].status == StageStatus.SKIPPED
    # downstream stages never ran
    assert len(results) == 1


def test_pipeline_releases_tracked_caches(spark, tmp_path):
    # The plan's dedup stage persists the MinHash shingle frame via
    # caching.persist; Pipeline.run must release every registered block when
    # the plan finishes so long-lived processes keep the block manager
    # flat.  (persist keeps lineage, so releasing is always safe.)
    def pinned() -> set[int]:
        return {
            int(i)
            for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    before = pinned()
    docs = load_table(spark, SF, "documents").select("doc_id", "text", "source")
    results = build_corpus_pipeline(spark, docs, _paths(tmp_path)).run()
    assert [r.status for r in results] == [StageStatus.SUCCEEDED] * 5

    from cryptocurrency_data_pipeline_spark.operators.caching import _LIVE

    assert not [e for e in _LIVE if e[0] is spark.sparkContext]
    # nothing this plan persisted survives in the block manager (delta vs
    # the pre-run snapshot: other tests in the shared session may pin
    # their own blocks)
    assert pinned() <= before


def test_corpus_pipeline_rerun_is_idempotent(spark, tmp_path):
    # Re-running the WHOLE pipeline against the same paths must not grow
    # the DLQ: every gate overwrites its own reject_reason partition
    # (a mode('append') classifier DLQ used to duplicate rows per run).
    from cryptocurrency_data_pipeline_spark.operators.classifier import (
        demo_weight_table,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text", "source")
    paths = _paths(tmp_path)
    weights = demo_weight_table(spark, 64)
    build_corpus_pipeline(spark, docs, paths, classifier_weights=weights).run()
    first = spark.read.parquet(paths.rejected).count()
    build_corpus_pipeline(spark, docs, paths, classifier_weights=weights).run()
    again = spark.read.parquet(paths.rejected).count()
    assert again == first
    rejected = spark.read.parquet(paths.rejected)
    assert rejected.count() == rejected.select("doc_id").distinct().count()


def test_corpus_pipeline_with_model_and_boilerplate_gates(spark, tmp_path):
    from cryptocurrency_data_pipeline_spark.operators.classifier import (
        demo_weight_table,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text", "source")
    paths = _paths(tmp_path)
    results = build_corpus_pipeline(
        spark,
        docs,
        paths,
        classifier_weights=demo_weight_table(spark, 64),
        max_boilerplate=0.5,
    ).run()

    names = [r.name for r in results]
    assert names == [
        "quality_gate", "model_gate", "boilerplate_gate",
        "near_dup_removal", "split_assignment", "sequence_packing",
        "shard_write",
    ]
    assert all(r.status == StageStatus.SUCCEEDED for r in results)

    # DLQ carries both reject reasons with disjoint doc sets
    rejected = spark.read.parquet(paths.rejected)
    reasons = {r.reject_reason for r in rejected.select("reject_reason").distinct().collect()}
    assert "classifier_reject" in reasons
    assert rejected.count() == rejected.select("doc_id").distinct().count()

    # conservation still holds: rejected + dropped + sharded == input
    sharded = spark.read.parquet(paths.shards)
    assert sharded.select("doc_id").distinct().count() + rejected.count() <= docs.count()
    assert sharded.count() > 0
