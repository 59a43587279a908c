"""Partitioning & skew machinery (SURVEY.md §2.9, north rule).

The reference's scaling story is 10 cloned workspace dirs with a
process barrier and a 600s straggler timeout (run_all_starts.py:8-19,
W:1388).  The Spark-native replacement:

- ``salted_repartition``: repartition by xxhash64(conv_id), with hot
  conv_ids additionally salted by pmod(turn_idx, S) so one huge
  conversation (or hot domain) spreads over S partitions instead of
  stalling one task.  Extraction is per-turn, so salting is always
  safe (no cross-turn state).
- ``detect_hot_keys``: cheap pre-aggregation of bytes per conv_id; a
  key is hot when its byte share exceeds ``threshold`` of the mean
  partition payload.  At 100 TB this runs on a sample
  (``sample_fraction``) — byte skew is stable under sampling.
- AQE skew-join splitting stays on (session.py) as the runtime
  backstop for what the static salt misses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def detect_hot_keys(
    df: DataFrame,
    key: str = "conv_id",
    payload: str = "text",
    threshold_bytes: int | None = None,
    skew_factor: float = 8.0,
    sample_fraction: float | None = None,
    bytes_col: str | None = None,
) -> list[str]:
    """conv_ids whose total payload bytes exceed skew_factor × mean.

    ``bytes_col`` names an ALREADY-COMPUTED per-row byte count (e.g.
    ``payload_bytes`` from a prior run's output via
    ``lineage.warm_key_stats``): the probe then never touches the
    payload column — a column-pruned two-slim-column scan instead of a
    sampled pass over 100 TB of text."""
    if bytes_col is not None:
        scan = df.select(key, F.col(bytes_col).alias("_bytes"))
    else:
        scan = df.select(key, F.length(F.col(payload)).alias("_bytes"))
    if sample_fraction is not None:
        scan = scan.sample(fraction=sample_fraction, seed=42)
    per_key = scan.groupBy(key).agg(F.sum("_bytes").alias("_key_bytes"))
    if threshold_bytes is None:
        # ONE job instead of two (guide §2.4): the mean is a broadcast
        # 1-row aggregate of per_key crossJoined back, so both branches
        # share the same per-key Exchange (ReuseExchange — plan-audited)
        # instead of re-running the scan + partial agg for the scalar
        # mean first.  floor(avg·factor) replicates the old driver-side
        # int(mean * skew_factor) truncation (both operands >= 0).
        mean_row = per_key.agg(F.avg("_key_bytes").alias("_mean"))
        hot = (
            per_key.join(F.broadcast(mean_row))
            .filter(
                F.col("_key_bytes")
                > F.floor(F.coalesce(F.col("_mean"), F.lit(0.0)) * skew_factor)
            )
            .select(key)
        )
        return [r[0] for r in hot.collect()]
    hot = per_key.filter(F.col("_key_bytes") > threshold_bytes).select(key)
    return [r[0] for r in hot.collect()]


def probe_payload_stats(
    df: DataFrame,
    key: str = "conv_id",
    payload: str = "text",
    skew_factor: float = 8.0,
    sample_fraction: float | None = None,
    bytes_col: str | None = None,
) -> dict:
    """One sampled probe → ``{"hot_keys": [...], "mean_row_bytes": f}``.

    Extends the hot-key probe with the mean payload size per row —
    the CPU-cost proxy the flagship plan uses to pick task
    granularity: extraction cost scales with payload bytes, so a
    corpus of ~MB rows needs ~3 tasks/core even with zero key skew
    (26-row scan splits of 0.7 MB pages measured 3-4× slower than
    96-way fine-grained tasks at local[32] — scripts/bench_heavy.py).
    Same scan shape as ``detect_hot_keys``; ``bytes_col`` takes
    precomputed byte counts (warm runs)."""
    if bytes_col is not None:
        scan = df.select(key, F.col(bytes_col).alias("_bytes"))
    else:
        scan = df.select(key, F.length(F.col(payload)).alias("_bytes"))
    if sample_fraction is not None:
        scan = scan.sample(fraction=sample_fraction, seed=42)
    per_key = scan.groupBy(key).agg(
        F.sum("_bytes").alias("_key_bytes"), F.count("*").alias("_rows")
    )
    totals = per_key.agg(
        F.avg("_key_bytes").alias("mean_key_bytes"),
        (F.sum("_key_bytes") / F.sum("_rows")).alias("mean_row_bytes"),
    ).first()
    mean_key = totals["mean_key_bytes"] or 0.0
    hot = per_key.filter(
        F.col("_key_bytes") > int(mean_key * skew_factor)
    ).select(key)
    return {
        "hot_keys": [r[0] for r in hot.collect()],
        "mean_row_bytes": float(totals["mean_row_bytes"] or 0.0),
    }


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    hot_keys: list[str] | None = None,
    salt_buckets: int = 8,
    key: str = "conv_id",
    salt_source: str = "turn_idx",
) -> DataFrame:
    """Repartition on xxhash64(key), salting hot keys across
    ``salt_buckets`` partitions.  Non-hot keys stay co-located (one
    shuffle, reusable partitioning)."""
    if hot_keys:
        salt = F.when(
            F.col(key).isin(hot_keys),
            F.pmod(F.xxhash64(F.col(salt_source)), F.lit(salt_buckets)),
        ).otherwise(F.lit(0))
    else:
        salt = F.lit(0)
    return df.repartition(num_partitions, F.xxhash64(F.col(key)), salt)


def ensure_scan_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
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
    sc = df.sparkSession.sparkContext
    target = min_partitions if min_partitions is not None else sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def bucket_id(key_col, num_buckets: int):
    """Deterministic bucket id for lineage/checkpointing: stable across
    runs, partition-count independent."""
    return F.pmod(F.xxhash64(key_col), F.lit(num_buckets)).cast("int")
