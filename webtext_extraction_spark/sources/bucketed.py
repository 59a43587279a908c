"""Spark-native bucketed tables: shuffle-free co-located joins.

The lineage path already buckets OUTPUT files by ``pmod(xxhash64(
conv_id), B)`` for resumability; this module adds the complementary
Catalyst-visible form — ``bucketBy`` tables — so repeated joins on
``conv_id`` (extraction output ⋈ transcripts, run N ⋈ run N-1 diffs,
metrics ⋈ turns) skip the shuffle entirely: two tables bucketed on the
same key with the same bucket count sort-merge-join with NO Exchange
on either side.

At 100 TB this is the difference between re-shuffling 100 TB per
analytical join and paying the shuffle once at write time.  On an
Iceberg deployment the same declaration is the table's
``bucket(conv_id)`` partition transform; Spark's storage-partitioned
joins give the identical no-Exchange plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    path: str | None = None,
    num_buckets: int = 16,
    bucket_key: str = "conv_id",
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> None:
    """Persist ``df`` as a parquet table bucketed (and sorted) by the
    join key.  ``path`` makes it an external table (tests point it at
    a tmp dir); bucket metadata lives in the session catalog."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, bucket_key)
        .sortBy(*sort_cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str = "conv_id"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — Catalyst
    plans a sort-merge join with no Exchange under either side."""
    return spark.table(left_table).join(spark.table(right_table), key)
