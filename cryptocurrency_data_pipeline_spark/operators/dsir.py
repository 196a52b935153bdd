"""DSIR-style importance weighting — data selection for language models.

Public recipe (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling"): estimate a *target* and a *raw* distribution over
hashed token features, then score every raw document by its log importance
ratio  sum_b tf(b) * [log p_target(b) - log p_raw(b)] ; resampling keeps
the highest-weight documents, tilting the corpus toward the target domain
without training a classifier.

Spark shape, stage by stage:

* **Featurize — map-only.**  Tokens hash into ``n_buckets`` buckets via
  the md5 idiom every engine replays (``conv(substr(md5(tok),1,4),16,10)
  % B``); the per-(doc, bucket) term frequencies come from ONE doc-keyed
  shuffle whose map-side combine collapses each document to at most B
  partial rows before the exchange.
* **Distributions — ONE B-row aggregate.**  Raw and target bucket counts
  come from a single conditional-sum groupBy over the cached tf frame; B
  is a constant (default 64), so the relation is sketch-sized no matter
  the corpus, and the Laplace totals are window sums over that one
  single-partition B-row frame.
* **Log-ratio lookup — broadcast.**  The scoring join is bucket->ratio
  against B rows, never a data-sized side; the final ``groupBy(doc)`` of
  ``tf * lr`` shuffles only the collapsed doc x <=B rows.
* **Single corpus pass.**  tf is persisted because two consumers (sketch,
  scoring) would otherwise each re-run the token explode — the plan is
  pinned to one tf exchange + InMemoryTableScan reuse in
  tests/test_dsir.py.

Driver state: zero (everything stays in-plan).  At 100 TB the only wide
shuffle is the (doc, bucket) tf aggregation — the same cost profile as
the paper's MapReduce featurization.

Reference counterpart: none (the Glue jobs do no corpus selection);
extends the sampling family (split / mixture / stratified) with the
distribution-matching member.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching
from cryptocurrency_data_pipeline_spark.operators.text import tokens


def hashed_feature_bucket(token_col: str | Column, n_buckets: int = 64) -> Column:
    """md5-hashed feature bucket in [0, n_buckets) — replayable anywhere
    (DuckDB: ``CAST('0x' || substr(md5(tok),1,4) AS INT) % B``)."""
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    return (F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("long") % n_buckets)


def importance_logweights(
    docs: DataFrame,
    target: Column,
    keys: Sequence[str] = ("doc_id",),
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """Per-document DSIR log importance weight.

    ``target`` is a boolean Column marking the documents whose token
    distribution defines the target domain.  Output: ``keys`` +
    ``log_weight`` (rounded to 6 dp so cross-engine summation order is
    absorbed).  Filter/resample on ``log_weight`` downstream.

    Key-uniqueness contract: ``keys`` identify a document — rows sharing
    the key tuple are POOLED into one document (their token multisets
    union via the tf groupBy), and exactly one output row carries the
    pooled weight.  A ×k-duplicated doc therefore weighs ~k× a single
    copy — duplication IS distributional mass under DSIR; dedup upstream
    if re-ingested copies should not count.
    """
    # ``tf`` feeds BOTH the distribution sketch and the final scoring —
    # persist it so the token explode + shuffle happens exactly once (the
    # ids.py precedent: un-deduplicated subtree reuse would re-tokenize
    # the corpus per instantiation; the cache is the collapsed
    # doc x <=B frame, spill-friendly; registered for eager release via
    # caching.release_all after the caller's terminal action).
    # explode_outer, not explode: a zero-token doc (blank/null text) keeps
    # one null-token row — with a plain explode it would silently vanish
    # from the output instead of getting its well-defined empty-sum
    # weight of 0.  The phantom row's bucket is null, so it is excluded
    # from the distribution sketch below and contributes 0 to scoring.
    tf = caching.persist(
        docs.select(
            *keys,
            target.alias("__is_target"),
            F.explode_outer(tokens(text_col)).alias("__tok"),
        )
        .withColumn("__b", hashed_feature_bucket("__tok", n_buckets))
        .groupBy(*keys, "__is_target", "__b")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    # Raw + target bucket counts in ONE B-row aggregate (conditional sum),
    # totals as window sums over that single-partition B-row frame — no
    # second pass over data for distributions.
    bucket = tf.where(F.col("__b").isNotNull()).groupBy("__b").agg(
        F.sum("__tf").alias("__n_raw"),
        F.sum(F.when(F.col("__is_target"), F.col("__tf")).otherwise(0)).alias(
            "__n_tgt"
        ),
    )
    wall = Window.partitionBy()  # B rows total — bounded, never data-sized
    lit_b = F.lit(float(n_buckets))
    ratios = bucket.select(
        "__b",
        (
            F.log(
                (F.col("__n_tgt") + 1)
                / (F.sum("__n_tgt").over(wall).cast("double") + lit_b)
            )
            - F.log(
                (F.col("__n_raw") + 1)
                / (F.sum("__n_raw").over(wall).cast("double") + lit_b)
            )
        ).alias("__lr"),
    )
    # Left join + coalesce keeps the zero-token docs' null-bucket rows
    # (no ratio matches them) at contribution 0 instead of dropping them.
    return (
        tf.join(F.broadcast(ratios), "__b", "left")
        .groupBy(*keys)
        .agg(
            F.round(
                F.sum(F.col("__tf") * F.coalesce(F.col("__lr"), F.lit(0.0))), 6
            ).alias("log_weight")
        )
    )
