"""Source splits and bucket ids (P3, north rule)."""

import pathlib
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from webtext_extraction_spark.operators import partitioning
from webtext_extraction_spark.operators.partitioning import bucket_id, source_splits


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


def _write_parquet(path, rows: int, row_bytes: int, row_group_rows: int):
    rng = random.Random(0)
    text = [rng.randbytes(row_bytes // 2).hex() for _ in range(rows)]
    table = pa.table({"doc_id": list(range(rows)), "text": text})
    pq.write_table(table, str(path), row_group_size=row_group_rows, compression="none")


def _non_empty_partitions(df) -> int:
    return df.select(F.spark_partition_id().alias("pid")).distinct().count()


@pytest.fixture
def one_mb_splits(spark):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1m")
    yield
    spark.conf.set(key, old)


def test_source_splits_spreads_one_row_group_the_scan_splits_by_bytes(spark, tmp_path, one_mb_splits):
    """A 5 MB file of one row group under a 1 MB split size plans 5
    scan splits, but only one of them reads rows: a check on the
    planned split count passes it over, the row-group count does not."""
    path = tmp_path / "one_group.parquet"
    _write_parquet(path, rows=2000, row_bytes=2500, row_group_rows=2000)
    df = spark.read.parquet(str(path))
    assert _non_empty_partitions(df) == 1
    out = source_splits(df)
    assert _non_empty_partitions(out) == spark.sparkContext.defaultParallelism
    assert out.count() == 2000


def test_source_splits_keeps_a_file_of_enough_row_groups(spark, tmp_path, one_mb_splits):
    """One row group per core, each larger than a split: the scan
    already reads on every core, so no Exchange is added."""
    target = spark.sparkContext.defaultParallelism
    path = tmp_path / "groups.parquet"
    _write_parquet(path, rows=500 * target, row_bytes=2500, row_group_rows=500)
    df = spark.read.parquet(str(path))
    out = source_splits(df)
    assert out is df
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    assert _non_empty_partitions(out) == target


def test_source_splits_reads_footers_only_until_the_target(spark, tmp_path, monkeypatch):
    target = spark.sparkContext.defaultParallelism
    for i in range(3 * target):
        _write_parquet(tmp_path / f"part-{i:03d}.parquet", rows=4, row_bytes=10, row_group_rows=4)
    reads = []
    real = partitioning._split_units
    monkeypatch.setattr(partitioning, "_split_units", lambda uri: reads.append(uri) or real(uri))
    df = spark.read.parquet(str(tmp_path))
    out = source_splits(df)
    assert out is df
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    assert len(reads) == target


def test_source_splits_passes_inputs_without_files(spark):
    df = spark.createDataFrame([(i,) for i in range(3)], ["x"])
    assert source_splits(df) is df


def _engine_lines_matching(pattern: str) -> list[str]:
    """``path:line`` of every line under the package and ``jobs/`` that
    matches ``pattern``."""
    root = pathlib.Path(__file__).resolve().parents[1]
    return [
        f"{p.relative_to(root)}:{n}"
        for d in ("webtext_extraction_spark", "jobs")
        for p in sorted((root / d).rglob("*.py"))
        for n, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if re.search(pattern, line)
    ]


def test_no_rdd_in_the_engine():
    """No engine path depends on ``df.rdd`` (absent under Spark Connect)."""
    assert _engine_lines_matching(r"\.rdd\b") == []


def test_engine_is_batch_only():
    """The reference is a batch pipeline (SURVEY §2.10): no engine path
    or job reads or writes a Structured-Streaming query."""
    assert _engine_lines_matching(r"readStream|writeStream|pyspark\.sql\.streaming") == []
