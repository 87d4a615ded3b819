"""File sources — S6 (CSV richlist) and S7 (JSON vesting).

Reference: the richlist job stream-reads '/tmp/tracking-{denom}-{ts}.txt'
lines `account,amount` (src/collector/richlist.ts:15-37) and the vesting
job reads the latest '/tmp/vesting-*' coins JSON
(src/collector/unvested.ts:8-25).  Here both are typed spark.read calls —
schema-on-read, partitioned, pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RICHLIST_SCHEMA = "account string, amount decimal(38,10)"
VESTING_SCHEMA = (
    "datetime timestamp, coins array<struct<denom:string, amount:string>>"
)


def read_richlist_lines(spark: SparkSession, path: str) -> DataFrame:
    """S6: the (account, amount) lines of one tracking file."""
    return spark.read.schema(RICHLIST_SCHEMA).option("header", "false").csv(path)


def read_richlist_csv(spark: SparkSession, path: str, denom: str) -> DataFrame:
    """S6: account,amount lines → richlist rows with share-of-total (A22)."""
    from classic_fcd_spark.operators.topk import with_share_of_total

    df = read_richlist_lines(spark, path).withColumn("denom", F.lit(denom))
    return with_share_of_total(df, "amount", "percentage")


def read_vesting_json(spark: SparkSession, path: str) -> DataFrame:
    """S7: vesting coins JSON → unvested rows (one per denom)."""
    raw = spark.read.schema(VESTING_SCHEMA).json(path)
    return raw.select(
        "datetime", F.explode("coins").alias("coin")
    ).select(
        "datetime",
        F.col("coin.denom").alias("denom"),
        F.col("coin.amount").cast("decimal(38,10)").alias("amount"),
    )
