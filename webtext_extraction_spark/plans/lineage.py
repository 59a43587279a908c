"""Checkpointed, resumable extraction runs with per-partition lineage.

Reference analogue: the completed_folder membership checkpoint
(run_all_starts.py:21-42) — resumability by directory listing.  Here:

- the input is bucketed by ``bucket_id = pmod(xxhash64(conv_id), B)``
  (stable across runs and partition counts);
- each run processes only buckets absent from the lineage table; the
  lineage is read once per run with a fixed schema and the completed
  buckets are dropped on the driver;
- output is written with dynamic partition overwrite on ``bucket`` (a
  writer option, so the caller's session conf is untouched), so
  re-processing a bucket that crashed mid-write is idempotent
  (overwrite replaces any partial files);
- a lineage row (bucket, rows, bytes_in, bytes_out, status counts,
  rule_version) is appended only AFTER the bucket's data commit — the
  two-phase order that makes kill/rerun safe: a bucket with data but
  no lineage row is simply redone;
- the payload column is scanned exactly ONCE per run: input accounting
  (payload_bytes = length(text)) rides through the extraction
  projection and the phase-2 rollup reads only the committed output;
- a commit extracts on the scan splits of its buckets, with no skew
  probe or salt (measured not to pay, BENCH/BASELINE.md "Skew-path
  payoff").

A resumed commit runs seven Spark jobs, and each has a reason to stay:

1. the lineage read: one collect of (bucket, input_snapshot) — the
   snapshot check and the resume set in one round-trip;
2-3. bucket discovery: ``distinct`` over the column-pruned input scan
   (shuffle map stage + result) — the input's bucket set is only known
   by reading conv_id;
4-5. the data commit: the (bucket, conv_id) write shuffle + the
   partitioned write;
6-7. the lineage commit: the per-bucket rollup shuffle + the append,
   whose observed ``sum(rows)`` is the summary's row count.

Storage is parquet directories (this sandbox has no Iceberg jars); the
layout maps 1:1 onto an Iceberg table with ``bucket(conv_id)``
partitioning where the lineage append and data append would share one
transaction.  The commit protocol below is the strictly-weaker
filesystem version of that transaction.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Observation, Row, SparkSession, functions as F

from webtext_extraction_spark import rules
from webtext_extraction_spark.operators.extraction import extract_turns
from webtext_extraction_spark.operators.partitioning import bucket_id

LINEAGE_DIR = "_lineage"
DATA_DIR = "data"

# the lineage rows as run_extraction writes them; reading with a fixed
# schema skips the parquet footer-inference job
LINEAGE_SCHEMA = (
    "bucket int, rows bigint, bytes_out bigint, rows_ok bigint, rows_not_ok bigint, "
    "rows_in bigint, bytes_in bigint, rule_version string, input_snapshot string"
)


def read_lineage(spark: SparkSession, output_path: str) -> list[Row]:
    """(bucket, input_snapshot) of every committed lineage row, in one
    job; [] before the first commit.  A resume over a different
    snapshot must be detected, not silently mixed (reference analogue:
    completed_folder assumes one fixed URL list per run directory,
    R:21-42)."""
    # the part files by name: Spark warns when named the hidden `_lineage`
    # dir, and when its sink-metadata probe looks a glob up as a path; the
    # `_temporary` of a killed first append holds no part file yet
    lineage_path = os.path.join(output_path, LINEAGE_DIR)
    names = os.listdir(lineage_path) if os.path.isdir(lineage_path) else []
    parts = [_literal(os.path.join(lineage_path, f)) for f in names if f.endswith(".parquet")]
    if not parts:
        return []
    return (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(*parts)
        .select("bucket", "input_snapshot")
        .collect()
    )


def _literal(path: str) -> str:
    """``path`` with Hadoop glob metacharacters escaped: Spark globs
    every read path, so an output dir such as ``run[1]`` would
    otherwise match nothing, or another dir."""
    return re.sub(r"([\\{}\[\]*?])", r"\\\1", path)


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    num_buckets: int = 32,
    buckets_per_commit: int | None = None,
    input_snapshot: str = "unversioned",
    site_rules: dict | None = None,
) -> dict:
    """Resumable bucketed extraction run.

    ``buckets_per_commit`` limits how many buckets one invocation
    processes (used by the kill/rerun test); None = all remaining.
    ``input_snapshot`` identifies the input version in every lineage
    row (the Iceberg snapshot id in production; a path/label here); a
    resume against a *different* snapshot raises rather than silently
    mixing two input versions in one output table.
    ``site_rules`` is ``extract_turns``' per-site selector table (None:
    the built-in one), broadcast to the executors.
    The write stage runs ``max(remaining buckets, 2 × defaultParallelism)``
    tasks, independent of ``num_buckets`` — one task per bucket would
    mean ~3 TB per write task at 100 TB.  The span-invariant check over
    a commit's output is ``extraction.audit_spans``, a job of its own.

    A resumed commit runs seven Spark jobs (module docstring): one
    lineage read, two for bucket discovery, two for the data commit,
    two for the lineage commit.
    Returns summary counters; ``rows`` is the observed ``sum(rows)`` of
    the appended lineage rows.
    """
    data_path = os.path.join(output_path, DATA_DIR)
    lineage_path = os.path.join(output_path, LINEAGE_DIR)

    committed = read_lineage(spark, output_path)
    seen_snapshots = {r["input_snapshot"] for r in committed}
    if seen_snapshots and seen_snapshots != {input_snapshot}:
        raise ValueError(
            f"resume over a different input snapshot: lineage has "
            f"{sorted(seen_snapshots)}, run was given {input_snapshot!r}; "
            "write to a fresh output_path (or re-run with the original "
            "snapshot) instead of mixing input versions"
        )
    done = {r["bucket"] for r in committed}

    # discovery reads conv_id only (the payload column is pruned);
    # completed buckets are dropped here on the driver, so the plan
    # carries no resume filter at any bucket count
    src = transcripts.withColumn("bucket", bucket_id(F.col("conv_id"), num_buckets))
    remaining = sorted(
        b for (b,) in src.select("bucket").distinct().collect() if b not in done
    )
    if buckets_per_commit is not None:
        remaining = remaining[:buckets_per_commit]
    if not remaining:
        return {"buckets_done": 0, "rows": 0}

    # Input accounting rides WITH the extraction projection (one long per
    # row): the payload column is scanned exactly ONCE per run — the
    # phase-2 rollup derives rows_in/bytes_in from the committed output
    # (extraction is 1:1 per turn) instead of a second full-payload
    # aggregate action.
    # isin over more than 10 literals plans as an InSet hash lookup.
    batch = src.filter(F.col("bucket").isin(remaining)).withColumn(
        "payload_bytes", F.length("text")
    )
    extracted = extract_turns(batch, site_rules=site_rules)

    # phase 1 — data commit (dynamic partition overwrite = idempotent
    # redo).  Write parallelism is DECOUPLED from bucket count: the
    # shuffle key is (bucket, hash(conv_id)) so one bucket spreads over
    # many write tasks (each conversation stays whole), and the
    # partitionBy writer still routes rows to the right bucket dir.
    write_partitions = max(len(remaining), 2 * spark.sparkContext.defaultParallelism)
    (
        extracted.repartition(
            write_partitions, F.col("bucket"), F.xxhash64(F.col("conv_id"))
        )
        .sortWithinPartitions("bucket", "conv_id", "turn_idx")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(data_path)
    )

    # phase 2 — lineage commit (append AFTER data is down).  Row shape
    # per north rule: (bucket, input snapshot id, row counts, bytes
    # processed, extraction-rule version).  rows_in/bytes_in come from
    # the committed output (extraction is strictly 1:1 per turn and
    # payload_bytes was carried through), so this rollup never touches
    # the input table.  The read-back takes the extraction's schema
    # (no footer-inference job).
    out = (
        spark.read.schema(extracted.schema)
        .parquet(_literal(data_path))
        .filter(F.col("bucket").isin(remaining))
    )
    lineage = (
        out.groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.length("extracted_text")).alias("bytes_out"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("rows_ok"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("rows_not_ok"),
            F.sum("payload_bytes").alias("bytes_in"),
        )
        .withColumn("rows_in", F.col("rows"))
        .withColumn("rule_version", F.lit(rules.RULE_VERSION))
        .withColumn("input_snapshot", F.lit(input_snapshot))
        .select(
            "bucket", "rows", "bytes_out", "rows_ok", "rows_not_ok",
            "rows_in", "bytes_in", "rule_version", "input_snapshot",
        )
    )
    committed_rows = Observation("committed_rows")
    lineage.observe(committed_rows, F.sum("rows").alias("rows")).write.mode(
        "append"
    ).parquet(lineage_path)

    return {"buckets_done": len(remaining), "rows": committed_rows.get["rows"]}
