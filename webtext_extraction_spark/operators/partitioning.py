"""Partitioning & skew machinery (SURVEY.md §2.9, north rule).

The reference's scaling story is 10 cloned workspace dirs with a
process barrier and a 600s straggler timeout (run_all_starts.py:8-19,
W:1388).  The Spark-native replacement is one measured decision
(``plans/pipeline.extraction_pipeline``):

- ``probe_payload_stats``: one sampled scan of (conv_id, length(text))
  aggregated per conv_id.  A key is hot when its byte total exceeds
  ``SKEW_FACTOR`` × the mean key total AND one task's fair share
  (1 / defaultParallelism) of the sampled bytes: below that share the
  key cannot be a straggler; the mean row size is the heavy-row
  signal.  Byte skew is stable under sampling.  One action
  when no key is hot (the common case); a second collects the hot keys
  only when the largest key total says one exists.
- ``salted_repartition``: repartition by xxhash64(conv_id), with hot
  conv_ids additionally salted by pmod(xxhash64(turn_idx),
  ``SALT_BUCKETS``) so one huge conversation (or hot domain) spreads
  over several partitions instead of stalling one task.  Extraction is
  per-turn, so salting is always safe (no cross-turn state).
- AQE skew-join splitting stays on (session.py) as the runtime
  backstop for what the static salt misses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# a conv_id is hot when its payload bytes exceed this multiple of the
# mean per-conv_id bytes
SKEW_FACTOR = 8.0
# partitions one hot conv_id spreads over
SALT_BUCKETS = 8


def probe_payload_stats(df: DataFrame, sample_fraction: float | None = None) -> dict:
    """One probe → ``{"hot_keys": [...], "mean_row_bytes": f}``.

    Scans (conv_id, length(text)), a seeded ``sample_fraction`` sample
    of it when given, and aggregates bytes and rows per conv_id.  The
    mean payload size per row is the CPU-cost proxy the flagship plan
    uses to pick task granularity: extraction cost scales with payload
    bytes, so a corpus of ~MB rows needs ~3 tasks/core even with zero
    key skew (26-row scan splits of 0.7 MB pages measured 3-4× slower
    than 96-way fine-grained tasks at local[32] — scripts/bench_heavy.py).
    """
    scan = df.select("conv_id", F.length("text").alias("_bytes"))
    if sample_fraction is not None:
        scan = scan.sample(fraction=sample_fraction, seed=42)
    per_key = scan.groupBy("conv_id").agg(
        F.sum("_bytes").alias("_key_bytes"), F.count("*").alias("_rows")
    )
    totals = per_key.agg(
        F.avg("_key_bytes").alias("mean_key_bytes"),
        F.max("_key_bytes").alias("max_key_bytes"),
        (F.sum("_key_bytes") / F.sum("_rows")).alias("mean_row_bytes"),
        F.sum("_key_bytes").alias("total_bytes"),
    ).first()
    tasks = df.sparkSession.sparkContext.defaultParallelism
    threshold = int(
        max(
            (totals["mean_key_bytes"] or 0.0) * SKEW_FACTOR,
            (totals["total_bytes"] or 0) / tasks,
        )
    )
    hot = []
    # the largest key total tells whether any key is hot: without skew
    # the probe is this one action, not a second scan for an empty list
    if (totals["max_key_bytes"] or 0) > threshold:
        hot = [
            r[0]
            for r in per_key.filter(F.col("_key_bytes") > threshold)
            .select("conv_id")
            .collect()
        ]
    return {
        "hot_keys": hot,
        "mean_row_bytes": float(totals["mean_row_bytes"] or 0.0),
    }


def detect_hot_keys(df: DataFrame, sample_fraction: float | None = None) -> list[str]:
    """The hot conv_ids of ``probe_payload_stats``."""
    return probe_payload_stats(df, sample_fraction)["hot_keys"]


def salted_repartition(
    df: DataFrame, num_partitions: int, hot_keys: list[str] | None = None
) -> DataFrame:
    """Repartition on xxhash64(conv_id), salting hot keys across
    ``SALT_BUCKETS`` partitions.  Non-hot keys stay co-located (one
    shuffle, reusable partitioning)."""
    if hot_keys:
        salt = F.when(
            F.col("conv_id").isin(hot_keys),
            F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(SALT_BUCKETS)),
        ).otherwise(F.lit(0))
    else:
        salt = F.lit(0)
    return df.repartition(num_partitions, F.xxhash64(F.col("conv_id")), salt)


def ensure_scan_parallelism(df: DataFrame) -> DataFrame:
    """Input-layout guard (guide §2.5 input skew / §6 small files): when
    the plan yields fewer partitions than the cluster's parallelism —
    one small parquet file, a single row group, an unsplittable codec —
    per-row expression work (token hashing, minhash/simhash signatures,
    vector math) runs on ONE core no matter how many the job has.
    Rebalance once so compute-heavy projections use every core.

    Scale-adaptive, not a local tune: any at-scale input already has
    >= target splits, making this a structural no-op (zero added
    shuffle at 100 TB); it only fires on under-split inputs, where the
    rebalanced bytes are by definition small.  Uses an explicit
    partition count so AQE does not re-coalesce the rebalance away.
    Row-level results are partitioning-independent in every caller
    (per-row columns, equi-join pair sets, deterministically tie-broken
    rankings)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def bucket_id(key_col, num_buckets: int):
    """Deterministic bucket id for lineage/checkpointing: stable across
    runs, partition-count independent."""
    return F.pmod(F.xxhash64(key_col), F.lit(num_buckets)).cast("int")
