"""Extraction output plans: the A6 status rollup and the rendered-output
formatter.

Every extraction runs ``extraction.extract_turns`` on the splits its
source gives: scan splits are byte-balanced (``maxPartitionBytes``) and
extraction is stateless per row, so the plan is scan → one Arrow UDF,
with no shuffle.  A probe-and-salt split plan for hot conversations and
heavy rows was measured and deleted: at local[4] the salt bought
0.93-1.30× under planted skew and the heavy-row repartition ran
0.78-0.86× of the plain scan splits (BENCH/BASELINE.md, "Skew-path
payoff" and "Heavy-payload").

``render_extracted`` reproduces the reference's text sink format for
golden comparison (save_results W:1712-1726 + integrated.py:45-58):
a driver-side formatter over an already-small, already-ordered
DataFrame — used only by tests, never in the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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
