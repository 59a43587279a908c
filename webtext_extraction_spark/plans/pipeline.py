"""End-to-end extraction plans + the rendered-output formatter.

``extraction_pipeline`` is the flagship logical plan:
scan → [salted repartition ONLY if skew detected] → extract (one
Arrow UDF; the F6 status is set inside its batch).  Everything before
and after the UDF is Catalyst-visible; filters on conv_id/tool push into the parquet/
Iceberg scan.

Why the shuffle is conditional: scan splits are already byte-balanced
(``maxPartitionBytes``) and extraction is stateless per row, so an
unconditional repartition of the full payload column is a 100 TB
shuffle at 100 TB input, bought to fix skew that balanced splits +
AQE mostly already fix.  The default ``salt_hot_keys="auto"`` runs a
sampled byte-skew probe (cheap: two tiny columns, sampled) and buys
the shuffle only when the probe finds a reason: a hot key (salted
repartition) or heavy rows (mean payload ≥ HEAVY_ROW_BYTES — CPU per
row is payload-proportional, so task granularity must follow CPU,
not bytes; fine-grained repartition measured 3-4× faster on ~0.7 MB
pages).

``render_extracted`` reproduces the reference's text sink format for
golden comparison (save_results W:1712-1726 + integrated.py:45-58):
a driver-side formatter over an already-small, already-ordered
DataFrame — used only by tests, never in the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webtext_extraction_spark.operators.extraction import extract_turns
from webtext_extraction_spark.operators.partitioning import (
    probe_payload_stats,
    salted_repartition,
)

# rows above this mean size are "heavy": per-row CPU (kernel cost scales
# with payload bytes) makes byte-balanced scan splits too coarse — a
# 128 MB split of 0.7 MB pages is ~180 rows ≈ 30+ s of single-task CPU.
# Measured at local[32]: 26-row splits 3-4× slower than 3-tasks/core
# fine-grained repartition (scripts/bench_heavy.py).
HEAVY_ROW_BYTES = 131072

# minimum SAMPLED exact-dup ratio before dedup_payloads="auto" buys the
# global distinct-extraction path; the sampled ratio is a lower bound on
# the true one, and the path only measured a win on heavy rows (1.61× at
# 67% dups on 0.7 MB pages vs 0.80× — a loss — on ~6 KB pages).
DEDUP_MIN_DUP_RATIO = 0.3


def extraction_pipeline(
    transcripts: DataFrame,
    num_partitions: int | None = None,
    salt_hot_keys: bool | str = "auto",
    hot_sample_fraction: float = 0.1,
    warm_stats: DataFrame | None = None,
    dedup_payloads: bool | str = False,
) -> DataFrame:
    """The flagship plan.  Ordering is NOT forced here (keys travel with
    every row); callers that need the stable output order add
    ``.orderBy('conv_id', 'turn_idx')`` at the sink (O1).

    ``salt_hot_keys``:
    - ``"auto"`` (default): sampled hot-key probe; repartition + salt
      ONLY when skew is found, else extract directly on scan splits.
    - ``True``: always repartition (salting any detected hot keys) —
      for inputs known to be skewed or pathologically split.
    - ``False``: never probe, never shuffle.

    An EXPLICIT ``num_partitions`` is always honored: with no detected
    skew the stage is still repartitioned (unsalted, conv_id-keyed) to
    that size — only ``num_partitions=None`` lets the no-skew path run
    on raw scan splits.

    ``warm_stats``: a (conv_id, payload_bytes) DataFrame from a prior
    committed run (``lineage.warm_key_stats``); when given, the probe
    aggregates those precomputed byte counts instead of scanning the
    payload column — the 100 TB warm-run path.

    The auto probe buys the repartition in TWO skew regimes:
    - key skew (hot conversations) → salted repartition;
    - HEAVY ROWS (mean payload ≥ ``HEAVY_ROW_BYTES``, no skew needed)
      → plain fine-grained repartition: per-row CPU scales with
      payload bytes, so byte-balanced 128 MB scan splits of ~MB pages
      are 100+-row, 30+-second tasks — stragglers and poor
      transport/compute overlap cost 3-4× (measured,
      scripts/bench_heavy.py).

    ``dedup_payloads``:
    - ``False`` (default): co-located exact-dup pages are still
      collapsed for free by the batch-local memo inside the UDF.
    - ``True``: always extract via ``extract_turns_distinct`` (global
      distinct-payload extraction; two digest-keyed shuffles).
    - ``"auto"``: the probe additionally estimates the sampled
      exact-dup ratio (a lower bound); the global path is bought only
      in the regime where it measured a WIN — heavy rows AND dup
      ratio ≥ ``DEDUP_MIN_DUP_RATIO`` (0.7 MB pages at 67% dups:
      1.61×; ~6 KB pages at the same dup ratio: 0.80×, i.e. a LOSS —
      OPERATORS.md).  Requires a cold probe (ignored with
      ``warm_stats``, which never sees payloads).
    """
    hot = None
    heavy_rows = False
    heavy_for_dedup = False
    dup_ratio = 0.0
    want_probe = salt_hot_keys is True or salt_hot_keys == "auto"
    if want_probe or dedup_payloads == "auto":
        if warm_stats is not None:
            stats = probe_payload_stats(warm_stats, bytes_col="payload_bytes")
        else:
            stats = probe_payload_stats(
                transcripts,
                sample_fraction=hot_sample_fraction,
                estimate_dup_ratio=dedup_payloads == "auto",
            )
        hot = stats["hot_keys"] if want_probe else None
        heavy_rows = want_probe and stats["mean_row_bytes"] >= HEAVY_ROW_BYTES
        dup_ratio = stats.get("dup_ratio", 0.0)
        if dedup_payloads == "auto":
            heavy_for_dedup = stats["mean_row_bytes"] >= HEAVY_ROW_BYTES
    use_distinct = dedup_payloads is True or (
        dedup_payloads == "auto"
        and warm_stats is None
        and heavy_for_dedup
        and dup_ratio >= DEDUP_MIN_DUP_RATIO
    )
    if use_distinct:
        # the distinct step's shuffle already rebalances; skip the
        # salt/granularity repartition of the full input.  An explicit
        # num_partitions still holds: it sizes the digest shuffle (=
        # kernel task granularity) with no extra exchange (ADVICE r03)
        from webtext_extraction_spark.operators.extraction import extract_turns_distinct

        return extract_turns_distinct(transcripts, num_partitions=num_partitions)
    if hot or heavy_rows or salt_hot_keys is True:
        if num_partitions is None:
            # 3 tasks per core: fine-grained tasks smooth stragglers (hot
            # pages cost ~10× a normal page even after salting)
            num_partitions = 3 * transcripts.sparkSession.sparkContext.defaultParallelism
        balanced = salted_repartition(transcripts, num_partitions, hot_keys=hot)
    elif num_partitions is not None:
        balanced = salted_repartition(transcripts, num_partitions, hot_keys=None)
    else:
        balanced = transcripts
    return extract_turns(balanced)


def extraction_summary(extracted: DataFrame) -> DataFrame:
    """A6 — per-status metrics rollup (the reference's processed/excluded
    counters, W:1639-1640, R:137-148)."""
    return (
        extracted.groupBy("status", "strategy")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.length("extracted_text")).alias("bytes_out"),
        )
        .orderBy("status", "strategy")
    )


def render_extracted(
    extracted: DataFrame, limit: int = 10000, source_name: str | None = None
) -> str:
    """S9/S10 — the reference's extracted-text file shape: per-record
    ``url\\ntext`` blocks with blank-line separators, failure rows
    excluded, timeout rows kept and surfaced in a warning header
    (integrated.py:19-51).  Driver-side by design (golden tests only).

    ``source_name`` ∈ {"google", "yahoo"} additionally reproduces the
    reference's output-file header (quirk Q8, save_results
    W:1660-1726): the source banner (name padded with '=' to 62 chars
    + blank line) followed by the input URL list MINUS the
    filtered-out URLs, then exactly five newlines before the first
    record.  Here the "input URL list" is the batch's URLs in stable
    (conv_id, turn_idx) order; the exclusions are the
    failure_template/error_pattern rows the renderer drops.

    ``limit`` bounds the RENDERABLE record count (ADVICE r03): the
    failure/error rows are filtered Spark-side before the limit, so an
    input with many failure rows still renders ``limit`` records, and
    failure rows are never collected to the driver.  The Q8
    excluded-url check is restricted to the rendered rows' own URLs
    (ADVICE r04: an unordered ``distinct().limit()`` made the kept
    subset nondeterministic past ``limit`` distinct failure URLs) —
    only URLs that can appear in the header need checking, so the
    query is deterministic AND driver-bounded by the already-limited
    row set.
    """
    excluded_statuses = ("failure_template", "error_pattern")
    rows = (
        extracted.filter(~F.col("status").isin(*excluded_statuses))
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "url", "extracted_text", "status")
        .limit(limit)
        .collect()
    )

    q8_header = ""
    if source_name is not None:
        if source_name not in ("google", "yahoo"):
            raise ValueError(
                f"source_name must be 'google' or 'yahoo', got {source_name!r}"
            )
        banner = source_name + "=" * (62 - len(source_name)) + "\n\n"
        # only the rendered rows' URLs can appear in the header, so
        # the excluded-status probe is a semi-join against that
        # driver-bounded set — deterministic regardless of how many
        # distinct failure URLs exist corpus-wide (ADVICE r04)
        candidate_urls = list({r["url"] for r in rows if r["url"]})
        excluded_urls = (
            {
                r["url"]
                for r in extracted.filter(F.col("status").isin(*excluded_statuses))
                .filter(F.col("url").isin(candidate_urls))
                .select("url")
                .distinct()
                .collect()
            }
            if candidate_urls
            else set()
        )
        url_list = []
        for r in rows:
            if r["url"] and r["url"] not in excluded_urls and r["url"] not in url_list:
                url_list.append(r["url"])
        # filtered list + exactly 5 newlines (W:1700)
        q8_header = banner + "\n".join(url_list) + "\n\n\n\n\n"
    timeout_urls = [
        r["url"] or f"{r['conv_id']}#{r['turn_idx']}"
        for r in rows
        if r["status"] == "timeout"
    ]
    blocks = []
    for r in rows:
        key = r["url"] or f"{r['conv_id']}#{r['turn_idx']}"
        blocks.append(f"{key}\n{r['extracted_text']}")
    body = "\n\n\n".join(blocks)  # record + 2 blank lines (W:1720-1726)
    if timeout_urls:
        header = (
            "テキスト抽出タイムアウトページあり（該当URL表示）\n"
            + "\n".join(timeout_urls)
            + "\n\n\n"
        )
        return q8_header + header + body
    return q8_header + body
