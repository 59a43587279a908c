"""Salting / partitioning behavior (P3, T04, north rule)."""

from pyspark.sql import functions as F

from webtext_extraction_spark.operators.partitioning import (
    bucket_id,
    detect_hot_keys,
    salted_repartition,
)


def _partition_counts(df):
    return (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )


def test_detect_hot_keys_finds_heavy_conversations(spark):
    rows = [(f"c{i}", t, "x" * 100) for i in range(50) for t in range(4)]
    rows += [("hot", t, "y" * 40000) for t in range(8)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    hot = detect_hot_keys(df)
    assert hot == ["hot"]


def test_salted_repartition_spreads_hot_key(spark):
    rows = [(f"c{i}", t, "x") for i in range(20) for t in range(2)]
    rows += [("hot", t, "y") for t in range(64)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])

    unsalted = salted_repartition(df, 8, hot_keys=None)
    hot_parts_unsalted = (
        unsalted.filter(F.col("conv_id") == "hot")
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert hot_parts_unsalted == 1  # co-located without salting

    salted = salted_repartition(df, 8, hot_keys=["hot"])
    hot_parts_salted = (
        salted.filter(F.col("conv_id") == "hot")
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert hot_parts_salted >= 4  # spread across partitions
    # non-hot keys stay co-located
    c0_parts = (
        salted.filter(F.col("conv_id") == "c0")
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert c0_parts == 1


def test_bucket_id_stable_across_partitionings(spark):
    df = spark.createDataFrame([(f"c{i}",) for i in range(100)], ["conv_id"])
    a = {
        r["conv_id"]: r["b"]
        for r in df.repartition(3).select("conv_id", bucket_id(F.col("conv_id"), 16).alias("b")).collect()
    }
    b = {
        r["conv_id"]: r["b"]
        for r in df.repartition(11).select("conv_id", bucket_id(F.col("conv_id"), 16).alias("b")).collect()
    }
    assert a == b
    assert all(0 <= v < 16 for v in a.values())
