"""The reference's 4-job batch ETL as one engine pipeline.

Step Function states → stages (crypto-etl-pipeline.asl.json:5-76):
ingestion → transform (Silver) → quality gate → gold aggregation.

Where the reference runs 4 separate Glue clusters passing data via S3, the
engine runs one SparkSession with a linear lineage per layer — but keeps
the layer boundaries as parquet writes (bronze/silver/gold dirs), because
at 100 TB the layers ARE the recovery points.

Anti-patterns eliminated (SURVEY §4): zero ``collect()`` validation, one
action per sink instead of 11+ guard ``count()``s, dynamic partition
overwrite instead of read-union-rewrite merges.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching, gold, quality, silver
from cryptocurrency_data_pipeline_spark.plans.runner import SKIP, Pipeline
from cryptocurrency_data_pipeline_spark.schemas import REQUIRED_FIELDS
from cryptocurrency_data_pipeline_spark.sources import ingestion


@dataclass
class EtlPaths:
    bronze: str
    silver: str
    dlq: str
    metrics: str
    gold_fact: str
    gold_dim_coins: str
    gold_dim_date: str


#: Silver projection spec (glue/data_transform_s3.py:113-125): rename id →
#: coin_id and enforce every column's type explicitly.
SILVER_SPEC = [
    ("id", "coin_id", "string"),
    ("symbol", "symbol", "string"),
    ("name", "name", "string"),
    ("current_price", "current_price", "double"),
    ("market_cap", "market_cap", "long"),
    ("market_cap_rank", "market_cap_rank", "int"),
    ("total_volume", "total_volume", "long"),
    ("high_24h", "high_24h", "double"),
    ("low_24h", "low_24h", "double"),
    ("price_change_24h", "price_change_24h", "double"),
    ("price_change_percentage_24h", "price_change_percentage_24h", "double"),
    ("circulating_supply", "circulating_supply", "double"),
    ("total_supply", "total_supply", "double"),
]


def transform_stage(spark: SparkSession, paths: EtlPaths):
    """Silver: read bronze, split invalid → DLQ, project/cast, stamp audit
    cols, dedup latest per (coin_id, update_date), write partitioned.

    Every bronze line ends up in silver OR the DLQ: corrupt (unparseable)
    lines get their own envelopes — filtering them out silently would
    make the parse-failure class the one kind of row that can never be
    replayed.  The DLQ envelope carries the VERBATIM raw line
    (``keep_raw``), never a re-serialization that drops undeclared
    payload fields.  Keep-latest orders on the landing FILE (run-id
    stamped ``crypto_data_<ts>.json`` — lexical order is fetch order):
    within one transform run ``current_timestamp()`` is a query
    constant, so ordering on it would silently degrade keep-latest to
    keep-max-market-cap across same-day fetches."""

    def stage(_):
        df = ingestion.read_bronze(spark, paths.bronze, keep_raw=True)
        if df.isEmpty():  # C2 — not a count() job
            return SKIP
        # input_file_name() binds to the file scan — capture BEFORE the
        # persist below would detach it (an InMemoryTableScan has no
        # file attribution, the column would come back empty).
        df = df.withColumn("_src_file", F.input_file_name())
        # One bronze scan feeds both the DLQ write and the silver write;
        # unpersisted, the text scan + from_json would run twice and a
        # file landing between the two actions could split a batch
        # inconsistently across them.
        df = caching.persist(df)
        try:
            corrupt = df.filter(F.col("_corrupt_record").isNotNull()).select(
                F.col("_raw").alias("raw_data"),
                F.lit("json_parse_error").alias("error_reason"),
                F.date_format(
                    F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss"
                ).alias("timestamp"),
                F.lit("corrupt_record").alias("validation_type"),
            )
            parsed = df.filter(F.col("_corrupt_record").isNull()).drop(
                "_corrupt_record"
            )
            valid, dlq = silver.enforce_schema_split(
                parsed, REQUIRED_FIELDS, raw_col="_raw"
            )
            dlq.unionByName(corrupt).coalesce(1).write.mode("append").json(
                paths.dlq
            )
            out = (
                silver.project_cast(
                    valid, SILVER_SPEC + [("_src_file", "_src_file", "string")]
                )
                .withColumn("update_date", F.current_date())
                .withColumn("last_updated_ts", F.current_timestamp())
            )
            out = silver.dedup_latest(
                out,
                ["coin_id", "update_date"],
                "_src_file",
                tiebreak=["market_cap"],
            ).drop("_src_file")
            # Write-path accounting rides the write job itself
            # (Observation API — zero extra scans); the dedicated quality
            # stage still runs its full profile against the landed table.
            watched, obs = quality.observed(
                out,
                name="silver_write",
                completeness_cols=["coin_id", "current_price"],
            )
            (
                watched.write.mode("overwrite")
                .option("compression", "snappy")
                .partitionBy("update_date")
                .parquet(paths.silver)
            )
            quality.profile_df(spark, obs.get).coalesce(1).write.mode(
                "append"
            ).parquet(paths.metrics)
            return paths.silver
        finally:
            caching.release(df)

    return stage


#: The PyDeequ gate's constraint set (glue/data_quality_pydeequ.py:72-84).
def default_constraints(min_rows: int = 1, max_rows: int = 10**9):
    return [
        quality.Constraint("size in bounds", "Size()", lambda v: min_rows <= v <= max_rows),
        quality.Constraint("coin_id complete", "Completeness(coin_id)", lambda v: v >= 1.0),
        quality.Constraint("price complete", "Completeness(current_price)", lambda v: v >= 1.0),
        quality.Constraint("coin_id unique", "Uniqueness(coin_id)", lambda v: v > 0.99),
        quality.Constraint("price positive", "Minimum(current_price)", lambda v: v > 0),
        quality.Constraint("price sane", "Maximum(current_price)", lambda v: v < 1_000_000),
    ]


def quality_stage(spark: SparkSession, paths: EtlPaths, constraints=None):
    """DQ gate: one-pass profile → constraints → metrics sink → abort on
    failure (C4).  The profile runs over the LATEST update_date partition
    only (partition-pruned scan) — matching the reference, which gates
    each day's batch: profiling the whole multi-date table would fail
    the Uniqueness(coin_id) constraint from day 2 onward, since every
    coin legitimately appears once per retained date."""

    def stage(silver_path):
        df = spark.read.parquet(silver_path or paths.silver)
        if df.isEmpty():
            return SKIP
        latest = df.agg(F.max("update_date")).collect()[0][0]
        day = df.where(F.col("update_date") == F.lit(latest))
        metrics = quality.profile(
            day,
            completeness_cols=["coin_id", "current_price", "market_cap", "symbol", "name"],
            numeric_cols=["current_price", "market_cap"],
            unique_key="coin_id",
            approx_distinct_col="coin_id",
        )
        quality.profile_df(spark, metrics).coalesce(1).write.mode("append").parquet(
            paths.metrics
        )
        quality.verify(
            spark, metrics, constraints or default_constraints(), raise_on_failure=True
        )
        return silver_path

    return stage


def _read_parquet_if_exists(spark: SparkSession, path: str):
    """The table, or None ONLY when it does not exist yet.  Any other
    read failure (corruption, permission, transient IO) must propagate:
    treating it as first-load would hand merge_dim an empty 'existing'
    side and OVERWRITE the dim with only today's rows — history gone."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return None
        raise


def gold_stage(spark: SparkSession, paths: EtlPaths):
    """Gold: fact (dynamic-partition merge), dims (key-deduped merges)."""

    def stage(silver_path):
        df = spark.read.parquet(silver_path or paths.silver)
        if df.isEmpty():
            return SKIP
        fact = gold.build_fact(df)
        gold.merge_fact(fact, paths.gold_fact)

        new_coins = gold.build_dim(df, ["coin_id", "symbol", "name"])
        existing = _read_parquet_if_exists(spark, paths.gold_dim_coins)
        merged = gold.merge_dim(existing, new_coins, ["coin_id"])
        # Dim is tiny (one row per coin): rewrite wholesale.
        merged.coalesce(1).write.mode("overwrite").parquet(paths.gold_dim_coins + "_tmp")
        spark.read.parquet(paths.gold_dim_coins + "_tmp").coalesce(1).write.mode(
            "overwrite"
        ).parquet(paths.gold_dim_coins)

        dim_date = gold.build_dim_date(df, "update_date")
        existing_d = _read_parquet_if_exists(spark, paths.gold_dim_date)
        gold.merge_dim(existing_d, dim_date, ["date"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(paths.gold_dim_date + "_tmp")
        spark.read.parquet(paths.gold_dim_date + "_tmp").coalesce(1).write.mode(
            "overwrite"
        ).parquet(paths.gold_dim_date)
        return paths.gold_fact

    return stage


def replay_dlq(
    spark: SparkSession,
    paths: EtlPaths,
    required=None,
    extra_fields=None,
) -> tuple[int, int]:
    """Drain the DLQ after an operator fix — the operational second half
    of the dead-letter contract (a DLQ nobody can drain is just a loss
    bucket with better logging).

    Reads the DLQ envelope, re-parses each ``raw_data`` payload against
    the declared schema (plus any promoted ``extra_fields``), re-runs
    the SAME enforcement split under the (possibly relaxed) ``required``
    set, appends recovered rows to silver through the standard
    project/cast/stamp path, and REWRITES the DLQ with only the
    still-failing envelopes — so replay is idempotent and the DLQ only
    ever shrinks.  Returns ``(n_recovered, n_still_bad)``.

    Recovered payloads are also RE-LANDED in bronze (the layer of
    record): ``transform_stage`` rebuilds today's silver partition from
    bronze with dynamic overwrite, so a same-day re-run would otherwise
    erase the replayed rows from silver AFTER the DLQ was rewritten
    without them — unrecoverable loss.  With the re-landing, a recompute
    either re-derives the rows (parse/schema fix visible to the standard
    read) or re-quarantines them to the DLQ (replay used a relaxed
    ``required``) — the bronze ∪ DLQ loss-bucket invariant holds either
    way, and keep-latest dedup absorbs the duplicate payload copies.
    """
    from pyspark.errors.exceptions.captured import AnalysisException
    from pyspark.sql.types import StringType, StructField, StructType

    from cryptocurrency_data_pipeline_spark.schemas import CRYPTO_MARKETS

    try:
        envelopes = spark.read.json(paths.dlq)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return (0, 0)  # no DLQ yet — nothing to drain
        raise
    if envelopes.isEmpty() or "raw_data" not in envelopes.columns:
        return (0, 0)

    schema = StructType(list(CRYPTO_MARKETS.fields) + list(extra_fields or []))
    reparsed = envelopes.select(
        F.col("raw_data"),
        F.from_json("raw_data", schema).alias("r"),
    ).select("raw_data", "r.*")
    req = required if required is not None else REQUIRED_FIELDS
    # raw_col keeps the ORIGINAL raw_data verbatim in the rewritten DLQ —
    # a re-serialize from the parsed row would silently drop any payload
    # fields outside schema+extra_fields on every replay (ADVICE r6).
    valid, still_bad = silver.enforce_schema_split(
        reparsed, req, raw_col="raw_data"
    )
    valid = caching.persist(valid)
    try:
        n_recovered = valid.count()
        if n_recovered:
            out = (
                silver.project_cast(valid, SILVER_SPEC)
                .withColumn("update_date", F.current_date())
                .withColumn("last_updated_ts", F.current_timestamp())
            )
            (
                out.write.mode("append")
                .option("compression", "snappy")
                .partitionBy("update_date")
                .parquet(paths.silver)
            )
            # Re-land the recovered raw lines in bronze (see docstring).
            (
                envelopes.select("raw_data")
                .exceptAll(still_bad.select("raw_data"))
                .select(F.col("raw_data").alias("value"))
                .coalesce(1)
                .write.mode("append")
                .text(paths.bronze)
            )
    finally:
        caching.release(valid)

    # Rewrite the DLQ with only the still-failing envelopes.  The source
    # and destination are the same directory, so materialize through a
    # tmp swap (the gold_stage idiom) — a direct overwrite would truncate
    # the files its own tasks still need to read.  An empty JSON dir is
    # unreadable (no schema), so the drained case writes a typed empty
    # frame instead of round-tripping through tmp.
    tmp = paths.dlq.rstrip("/") + "_tmp"
    still_bad.coalesce(1).write.mode("overwrite").json(tmp)
    try:
        remaining = spark.read.json(tmp)
        n_still_bad = remaining.count()
    except AnalysisException:  # empty tmp (no schema): everything recovered
        remaining, n_still_bad = None, 0
    if n_still_bad:
        remaining.coalesce(1).write.mode("overwrite").json(paths.dlq)
    else:
        spark.createDataFrame([], still_bad.schema).coalesce(1).write.mode(
            "overwrite"
        ).json(paths.dlq)
    shutil.rmtree(tmp, ignore_errors=True)  # the swap dir is scratch, not state
    return (n_recovered, n_still_bad)


def find_missing_fact_partitions(
    spark: SparkSession,
    silver_path: str,
    fact_path: str,
    date_col: str = "update_date",
    partition_col: str = "date",
) -> list[str]:
    """Backfill work list: dates present in Silver but absent from the
    Gold fact — the state after a gold run died mid-write, a partition
    was vacuumed by mistake, or Silver was re-landed for a range.
    Expected side is one distinct over the Silver partition column
    (partition-pruned scan, O(days) to the driver); present side is a
    directory listing, no data read at all."""
    expected = {
        r[0]
        for r in spark.read.parquet(silver_path)
        .select(F.col(date_col).cast("string"))
        .where(F.col(date_col).isNotNull())
        .distinct()
        .collect()
    }
    present: set[str] = set()
    if os.path.isdir(fact_path):
        present = {
            d.split("=", 1)[1]
            for d in os.listdir(fact_path)
            if d.startswith(f"{partition_col}=")
        }
    return sorted(expected - present)


def backfill_fact(
    spark: SparkSession, paths: EtlPaths, dates: list[str] | None = None
) -> list[str]:
    """Recompute ONLY the missing fact partitions from Silver.

    The Silver read filters on its partition column, so the scan prunes
    to exactly the backfill dates, and ``merge_fact``'s dynamic overwrite
    writes exactly those partitions — a one-day hole in a 10-year fact
    costs one day of I/O, not a rebuild.  Returns the dates backfilled
    (empty = nothing missing, no job ran)."""
    missing = dates if dates is not None else find_missing_fact_partitions(
        spark, paths.silver, paths.gold_fact
    )
    if not missing:
        return []
    sl = spark.read.parquet(paths.silver).where(
        F.col("update_date").cast("string").isin(list(missing))
    )
    gold.merge_fact(gold.build_fact(sl), paths.gold_fact)
    return list(missing)


def build_etl_pipeline(
    spark: SparkSession,
    paths: EtlPaths,
    notifier=None,
    constraints=None,
) -> Pipeline:
    """transform → quality → gold (ingestion runs separately: it is a
    network fetch, not a Spark job — S1)."""
    return (
        Pipeline(notifier=notifier)
        .add("transform", transform_stage(spark, paths))
        .add("quality", quality_stage(spark, paths, constraints))
        .add("aggregate", gold_stage(spark, paths))
    )
