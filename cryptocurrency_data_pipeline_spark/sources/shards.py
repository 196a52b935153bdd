"""Training-shard sink: deterministic sharded parquet + manifest.

The last step of a training-data pipeline: land the corpus as N
equal-ish shards per split, so the training job can assign shard files
to data-loader workers without listing or re-hashing the corpus. Two
properties matter at 100 TB:

* **Deterministic placement** — shard = md5(id) mod N, so a re-run (or a
  retried write task) puts every row in the same shard; no RNG state,
  same regime as ``operators/sampling.py``.
* **One file per shard, written in parallel** — a bare
  ``write.partitionBy(...)`` has every task write into every partition
  dir (tasks × shards small files, the classic partitionBy explosion;
  see ``operators/maintenance.py`` for the cleanup cost). Repartitioning
  ON the partition columns first means each (split, shard) lands in
  exactly one task → exactly one file, and the shards still write
  cluster-parallel. ``sortWithinPartitions`` gives deterministic in-file
  row order for reproducible data loading.

The manifest (one JSON file beside the data) carries per-shard row and
token counts from a single aggregation pass — O(splits × shards) rows to
the driver, never data.

Reference writes a single coalesced JSON object per run
(glue/data_ingestion_s3.py:33); this is that sink generalized to a
corpus that does not fit in one file.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching


def shard_assignment(id_col: str, n_shards: int):
    """Deterministic shard id in [0, n_shards): md5-hash bucket of the id."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    return F.pmod(h.cast("long"), F.lit(n_shards))


def rendezvous_shard(id_col: str, n_shards: int):
    """Consistent shard id via highest-random-weight (rendezvous)
    hashing: argmax over shards ``s`` of ``md5(id || ':' || s)``.

    Why it exists next to :func:`shard_assignment`: with mod placement,
    growing n → n+1 shards remaps ~n/(n+1) of all ids — at 100 TB a
    reshard is a full-corpus rewrite.  Rendezvous moves exactly the ids
    whose NEW shard's hash wins, ~1/(n+1) of the corpus, and every mover
    lands on the new shard — resharding becomes an incremental copy.
    Pure JVM expression (array of (hash, shard) structs + ``array_max``
    comparing lexically on the hex digest), O(n_shards) per row, no UDF;
    reproducible in ANSI SQL as ``max_by(s, md5(id || ':' || s))``.
    """
    pairs = F.array(
        *[
            F.struct(
                F.md5(
                    F.concat(F.col(id_col).cast("string"), F.lit(f":{s}"))
                ).alias("h"),
                F.lit(s).alias("s"),
            )
            for s in range(n_shards)
        ]
    )
    return F.array_max(pairs)["s"]


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    split_col: str = "split",
    order_cols: Sequence[str] | None = None,
    token_col: str | None = None,
) -> dict:
    """Write ``df`` as ``path/split=…/shard=…/part-*.parquet`` + manifest.

    Returns the manifest dict: per (split, shard) row count, optional
    token sum, and id range — written to ``path/_manifest.json``.
    """
    order = list(order_cols) if order_cols else [id_col]
    # Persist: the stats pass and the write pass both consume the
    # sharded frame — un-cached, each would instantiate the full input
    # subtree independently (a second 100 TB scan, and with any
    # nondeterminism in the lineage the manifest could describe
    # different rows than the parquet actually written).
    sharded = caching.persist(
        df.withColumn("shard", shard_assignment(id_col, n_shards))
    )
    try:
        stats = (
            sharded.groupBy(split_col, "shard")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                (
                    F.sum(token_col) if token_col else F.lit(None).cast("long")
                ).alias("n_tokens"),
                F.min(id_col).alias("min_id"),
                F.max(id_col).alias("max_id"),
            )
            .collect()
        )

        (
            # The partition columns LEAD the explicit sort: the dynamic
            # partition write requires child ordering by (split, shard), and
            # an order-cols-only sort would make FileFormatWriter insert its
            # own (not-stable-under-spill) sort on top — wasting this one
            # and voiding the deterministic in-file row order contract.
            sharded.repartition(F.col(split_col), F.col("shard"))
            .sortWithinPartitions(split_col, "shard", *order)
            .write.mode("overwrite")
            .partitionBy(split_col, "shard")
            .parquet(path)
        )
    finally:
        caching.release(sharded)

    manifest = {
        "n_shards": n_shards,
        "id_col": id_col,
        "order_cols": order,
        "shards": sorted(
            (
                {
                    "split": r[split_col],
                    "shard": r["shard"],
                    "n_rows": r["n_rows"],
                    "n_tokens": r["n_tokens"],
                    "min_id": r["min_id"],
                    "max_id": r["max_id"],
                }
                for r in stats
            ),
            key=lambda s: (s["split"], s["shard"]),
        ),
    }
    # Durable atomic publish (fsync before rename): a torn manifest
    # would strand a fully-written corpus behind a JSON parse error.
    from cryptocurrency_data_pipeline_spark.operators.maintenance import (
        write_json_durable,
    )

    write_json_durable(os.path.join(path, "_manifest.json"), manifest)
    return manifest
