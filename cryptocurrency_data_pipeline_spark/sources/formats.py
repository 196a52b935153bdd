"""Interchange format surface: CSV ingest and ORC columnar round-trip.

The reference's format surface is JSON landing + Parquet tables
(glue/data_ingestion_s3.py:33-36, glue/data_transform_s3.py:142-148).
Real pipelines also receive delimited text and exchange columnar data
with ORC-native warehouses, so the engine exposes both through the same
discipline as the JSON path:

* **CSV is read with an explicit schema, never inferred** — inference is
  a full extra pass over 100 TB and non-deterministic under dirty data.
  Malformed rows follow the silver DLQ regime: PERMISSIVE mode +
  ``columnNameOfCorruptRecord`` keeps the raw line in-row, and the split
  into (valid, dlq) is a DataFrame filter — zero driver involvement,
  exactly like ``silver.enforce_schema_split``.
* **ORC writes mirror the parquet sink**: snappy, optional
  ``partitionBy``, dynamic-overwrite friendly.  ORC scans get the same
  Catalyst treatment as parquet — predicate pushdown and partition
  pruning show up in the plan (pinned in tests/test_formats.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from cryptocurrency_data_pipeline_spark.operators import caching

CORRUPT_COL = "_corrupt_record"


def read_csv_enforced(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """(valid, dlq): schema-enforced CSV scan with corrupt-line routing.

    ``dlq`` carries the raw offending line under ``raw`` plus an
    ``error_reason``, matching the silver DLQ envelope.
    """
    # StructType.add mutates in place — never touch the caller's schema.
    full = StructType(
        [*schema.fields, StructField(CORRUPT_COL, StringType(), True)]
    )
    # The cache is load-bearing (filtering on the corrupt-record column
    # requires materializing the permissive scan once); registered so
    # caching.release_all can reclaim the blocks eagerly — a loop over
    # CSV batches would otherwise accumulate full-scan-sized caches for
    # the session lifetime.
    df = caching.persist(
        spark.read.schema(full)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )
    bad = F.col(CORRUPT_COL).isNotNull()
    valid = df.filter(~bad).drop(CORRUPT_COL)
    dlq = df.filter(bad).select(
        F.col(CORRUPT_COL).alias("raw"),
        F.lit("csv_schema_mismatch").alias("error_reason"),
    )
    return valid, dlq


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def write_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Partitioned snappy ORC sink — the parquet sink's contract on the
    second columnar format."""
    w = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
