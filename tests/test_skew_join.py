"""Evidence for the engine's standing skew claims.

Several operators lean on "AQE splits skewed join partitions at
runtime" (mlfilter's vocabulary joins, the dedup candidate joins).
This test pins that the session's AQE configuration actually does it:
a power-law key join plans an AQE skew-split (the final adaptive plan
marks the sort-merge join ``skew=true`` and multiplies the skewed
partition), under thresholds scaled down to sandbox data sizes.
"""

import pytest
from pyspark.sql import functions as F


def test_aqe_splits_skewed_join(spark):
    """One key carries ~100× the rows of the others; with broadcast
    disabled the SMJ must show AQE's skew handling in the final plan."""
    old = {
        k: spark.conf.get(k)
        for k in [
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        ]
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # sandbox-scale thresholds: a partition is "skewed" above 64 KB
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

        big = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 99, F.lit("hot_host"))
            .otherwise(F.concat(F.lit("h"), (F.col("id") % 1000).cast("string")))
            .alias("host"),
            F.col("id").alias("doc_id"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("blob"),
        )
        dim = spark.range(1001).select(
            F.when(F.col("id") == 1000, F.lit("hot_host"))
            .otherwise(F.concat(F.lit("h"), F.col("id").cast("string")))
            .alias("host"),
            F.col("id").alias("host_meta"),
        )
        joined = big.join(dim, "host").select("host", "doc_id", "host_meta")
        # the final adaptive plan lives on the EXECUTED frame's own
        # QueryExecution — count()/write wrap it in a different one, so
        # drive THIS frame via collect()
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
