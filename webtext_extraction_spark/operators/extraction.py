"""The extraction DataFrame operator — one Arrow-batched UDF.

``extract_turns(df)`` maps the transcripts table
(conv_id, turn_idx, role, text, tool, ts) to the output table with
(extracted_text, spans, strategy, status, url, domain) appended.

Design notes (SURVEY.md §2.11, §4):
- Exactly ONE Arrow-batched UDF carries the whole D1–D5 cascade +
  C1–C5 cleanup + A2 dedup: one Arrow round-trip per batch instead of
  five, with the staged thresholds evaluated inside the kernel.
- The UDF is ARROW-NATIVE (``F.arrow_udf``, Spark 4): batches arrive
  as ``pa.Array`` and results leave as ``pa.array(...)`` — no pandas
  Series materialization on either side of the kernel.  Measured on
  this box (45k bench turns, 32 cores, paired A/B in one session):
  pandas_udf 8.3-8.8k turns/s vs arrow_udf 10.1-10.5k (+~20%),
  byte-identical output.
- The rule bundle travels to executors once per job via
  ``SparkContext.broadcast`` (J3 — rule-table broadcast); the UDF
  closure only captures the broadcast handle.
- The F6 error-pattern status is set inside the batch, on the final
  text the kernel just produced (a Python ``in`` per pattern), not by
  JVM ``contains`` scans over the output column afterwards;
  ``with_error_pattern_status`` is the retro-scan of an existing table.
- Everything around the UDF (ordering, filtering) is built-in column
  expressions → whole-stage codegen.
- No per-row Python UDF anywhere (input_hint requirement).
"""

from __future__ import annotations

from operator import itemgetter

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from webtext_extraction_spark import rules as rules_mod

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("kind", StringType()),
        ]
    )
)

EXTRACT_RESULT_TYPE = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("spans", SPAN_TYPE),
        StructField("strategy", StringType()),
        StructField("status", StringType()),
        StructField("url", StringType()),
        StructField("domain", StringType()),
    ]
)

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


# pyarrow type mirroring EXTRACT_RESULT_TYPE (built once per worker)
_PA_RESULT_TYPE = pa.struct(
    [
        ("extracted_text", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [("start", pa.int32()), ("end", pa.int32()), ("kind", pa.string())]
                )
            ),
        ),
        ("strategy", pa.string()),
        ("status", pa.string()),
        ("url", pa.string()),
        ("domain", pa.string()),
    ]
)


_START, _END, _KIND = itemgetter(0), itemgetter(1), itemgetter(2)  # span tuple fields


def _extract_batch(
    texts: pa.Array, tools: pa.Array, site_rules: dict | None = None
) -> pa.Array:
    # imported inside so the python worker resolves them after fork
    from webtext_extraction_spark.kernel.extract import derive_url_and_domain, extract_payload

    # Results are assembled COLUMNAR-NATIVELY: flat python lists →
    # pa.ListArray/StructArray.from_arrays.  The obvious
    # list-of-dicts → pa.array shape allocates one dict PER SPAN —
    # a heavy page carries ~9k spans, so a 26-row batch of 0.7 MB
    # pages built ~7M short-lived dicts, and CPython's gen-2 GC
    # rescanning millions of live objects dominated the batch (2-6×
    # wall-clock swings at local[32], scripts/bench_heavy.py).  Flat
    # lists keep the object count O(rows + spans) primitives; the
    # kernel's (start, end, kind) span tuples are split into them by
    # three C-level extends per row (no per-span Python code), and die
    # with their row, so the tuple free list serves the next row.
    ex_texts: list = []
    strategies: list = []
    statuses: list = []
    urls: list = []
    domains: list = []
    span_offsets = [0]
    starts: list = []
    ends: list = []
    kinds: list = []
    # batch-local duplicate-payload memo: web corpora carry exact-dup
    # pages (mirrors, re-crawls); extraction is deterministic, so each
    # distinct (payload, tool) is extracted once per batch and dup rows
    # copy the result columns (O(spans) appends vs ms of kernel work).
    # Keys reference strings already held by the batch — no copies.
    memo: dict = {}
    error_patterns = rules_mod.ERROR_PATTERNS
    for payload, tool in zip(texts.to_pylist(), tools.to_pylist()):
        if not isinstance(payload, str):
            payload = ""
        if not isinstance(tool, str):
            tool = ""
        hit = memo.get((payload, tool))
        if hit is not None:
            ex_text, strategy, status, url, domain, lo, hi = hit
            ex_texts.append(ex_text)
            strategies.append(strategy)
            statuses.append(status)
            urls.append(url)
            domains.append(domain)
            starts.extend(starts[lo:hi])
            ends.extend(ends[lo:hi])
            kinds.extend(kinds[lo:hi])
            span_offsets.append(len(starts))
            continue
        lo = len(starts)
        url, domain = derive_url_and_domain(payload)
        result = extract_payload(payload, tool, site_rules, url_domain=(url, domain))
        status = result.status
        # F6 — an ok row whose final text contains an error pattern
        # (save_results → detect_browser_errors, W:1408-1455)
        if status == "ok" and any(p in result.text for p in error_patterns):
            status = "error_pattern"
        ex_texts.append(result.text)
        strategies.append(result.strategy)
        statuses.append(status)
        urls.append(url)
        domains.append(domain)
        starts.extend(map(_START, result.spans))
        ends.extend(map(_END, result.spans))
        kinds.extend(map(_KIND, result.spans))
        span_offsets.append(len(starts))
        memo[(payload, tool)] = (
            result.text,
            result.strategy,
            status,
            url,
            domain,
            lo,
            len(starts),
        )
    spans_arr = pa.ListArray.from_arrays(
        pa.array(span_offsets, type=pa.int32()),
        pa.StructArray.from_arrays(
            [
                pa.array(starts, type=pa.int32()),
                pa.array(ends, type=pa.int32()),
                pa.array(kinds, type=pa.string()),
            ],
            names=["start", "end", "kind"],
        ),
    )
    return pa.StructArray.from_arrays(
        [
            pa.array(ex_texts, type=pa.string()),
            spans_arr,
            pa.array(strategies, type=pa.string()),
            pa.array(statuses, type=pa.string()),
            pa.array(urls, type=pa.string()),
            pa.array(domains, type=pa.string()),
        ],
        names=[
            "extracted_text",
            "spans",
            "strategy",
            "status",
            "url",
            "domain",
        ],
    )


@F.arrow_udf(EXTRACT_RESULT_TYPE)
def _extract_udf_raw(texts: pa.Array, tools: pa.Array) -> pa.Array:
    return _extract_batch(texts, tools)


# The kernel IS deterministic, but Catalyst duplicates deterministic
# UDFs when pushing filters through their projection (observed: a
# status filter over the output doubled the extraction work).  Marking
# it non-deterministic forces exactly-once evaluation; input-side
# filters are written before extract_turns anyway, so nothing needs to
# push past it.
extract_udf = _extract_udf_raw.asNondeterministic()


def make_extract_udf(spark, site_rules: dict):
    """Extraction UDF with a RUNTIME rule table shipped to executors as
    a SparkContext broadcast (J3 — the north-star "rule-table of
    per-site selector overrides broadcast to executors").  The closure
    captures only the broadcast handle; executors unpack it once per
    worker."""
    # validate the runtime rule table at JOB SETUP: an unsupported
    # selector must fail loudly here, not be silently converted into a
    # per-row failure_template by the hostile-payload containment
    # (round-3 review finding)
    from webtext_extraction_spark.html.selector import _parse_selector

    for _domain, selectors in (site_rules or {}).items():
        for sel in selectors:
            _parse_selector(sel)  # raises ValueError on unsupported grammar

    bc = spark.sparkContext.broadcast(site_rules)

    @F.arrow_udf(EXTRACT_RESULT_TYPE)
    def udf(texts: pa.Array, tools: pa.Array) -> pa.Array:
        return _extract_batch(texts, tools, bc.value)

    return udf.asNondeterministic()


def with_error_pattern_status(
    df: DataFrame,
    text_col: str = "extracted_text",
    patterns: list[str] | None = None,
) -> DataFrame:
    """F6 retro-scan — mark ``ok`` rows whose final text *contains* any
    error pattern (save_results → detect_browser_errors, W:1408-1455).
    Pure column expressions (JVM/codegen); the pattern list is tiny and
    inlined as literals — the Catalyst analogue of a broadcast.

    ``extract_turns`` already applies the built-in patterns inside the
    extraction batch; this re-scans an EXISTING extraction table with an
    updated rule set (``patterns``) without re-running extraction — the
    engine's version of cleanup_error_pages.py (CE:100-195), which
    retro-scans outputs when config.ini patterns change."""
    pattern_hit = None
    for pattern in patterns if patterns is not None else rules_mod.ERROR_PATTERNS:
        cond = F.col(text_col).contains(pattern)
        pattern_hit = cond if pattern_hit is None else (pattern_hit | cond)
    if pattern_hit is None:
        return df
    return df.withColumn(
        "status",
        F.when((F.col("status") == "ok") & pattern_hit, F.lit("error_pattern")).otherwise(
            F.col("status")
        ),
    )


def extract_turns(df: DataFrame, site_rules: dict | None = None) -> DataFrame:
    """transcripts → extraction results; stable (conv_id, turn_idx) keys
    carried through (J1 made unnecessary — SURVEY.md §2.3).

    Any EXTRA input columns (beyond the transcript schema) are carried
    through unchanged — the payload column ``text`` is the only one
    consumed.  ``run_extraction`` relies on this to carry its ``bucket``
    and ``payload_bytes`` lineage columns through the UDF projection so
    the 100 TB payload column is scanned exactly once per run.

    ``site_rules`` ships a runtime per-site selector table to the
    executors via broadcast; None uses the built-in rules module."""
    udf = (
        make_extract_udf(df.sparkSession, site_rules)
        if site_rules is not None
        else extract_udf
    )
    carried = [c for c in df.columns if c != "text"]
    result = df.withColumn("_ex", udf(F.col("text"), F.col("tool")))
    return result.select(
        *carried,
        F.col("_ex.extracted_text").alias("extracted_text"),
        F.col("_ex.spans").alias("spans"),
        F.col("_ex.strategy").alias("strategy"),
        F.col("_ex.status").alias("status"),
        F.col("_ex.url").alias("url"),
        F.col("_ex.domain").alias("domain"),
    )


def extract_turns_distinct(
    df: DataFrame,
    site_rules: dict | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global dedup-before-extract: run the kernel once per DISTINCT
    (payload, tool) across the whole input, then join results back to
    every row.  Output rows/schema identical to ``extract_turns``.

    The trade (plan-audited): the payload column is scanned twice (the
    digest-tag side and the distinct side), the distinct buys one
    exchange of the distinct payloads, and results join back on the
    digest (AQE picks broadcast when the distinct set is small, SMJ
    otherwise; extraction itself runs exactly once — one
    ArrowEvalPython in the plan).  That buys kernel compute
    proportional to distinct pages — the standard web-corpus move
    (mirrors and re-crawls commonly make 20-60% of crawl-scale corpora
    exact dups).
    Pays when dup_ratio × kernel-ms/page outweighs ~2 shuffle passes of
    the payload bytes; for globally-scattered dups only — co-located
    dups are already collapsed for free by the batch-local memo inside
    ``_extract_batch`` with NO shuffle.  Digest is md5(payload) ||
    md5(tool) — hashing the fields SEPARATELY keeps the pair encoding
    injective (a delimiter inside concat would collide on payloads
    containing the delimiter byte); collision odds ~1e-14 at 1e12 rows.

    ``num_partitions`` sizes the digest shuffle (and therefore the
    kernel-stage task granularity — the thing the knob exists for):
    the explicit ``repartition(n, _ph)`` satisfies the dedup
    aggregate's clustering requirement, so Catalyst inserts NO second
    exchange (plan-audited) — honoring the caller's partition count
    costs nothing over the default-partitioned dedup shuffle
    (ADVICE r03).
    """
    hexpr = F.concat(
        F.md5(F.coalesce(F.col("text"), F.lit(""))),
        F.md5(F.coalesce(F.col("tool"), F.lit(""))),
    )
    tagged = df.withColumn("_ph", hexpr)
    pre = tagged.select("text", "tool", "_ph")
    if num_partitions is not None:
        pre = pre.repartition(num_partitions, "_ph")
    distinct = pre.dropDuplicates(["_ph"])
    results = extract_turns(distinct, site_rules).drop("tool")
    carried = [c for c in df.columns if c != "text"]
    return tagged.join(results, "_ph").select(
        *carried,
        "extracted_text",
        "spans",
        "strategy",
        "status",
        "url",
        "domain",
    )


AUDIT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("span_ok", StringType()),
    ]
)


def audit_spans(extracted: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Data-quality auditor: re-joins extraction output to its input
    payloads and checks the span invariant row by row — the spans must
    reconstruct ``extracted_text`` from the raw payload
    (kernel/tracked.reconstruct).  Returns (conv_id, turn_idx,
    span_ok ∈ {'ok','mismatch'}); run it after a production batch the
    way the reference eyeballs its output files.  mapInPandas (Arrow
    batches, constant memory per task); the join is on the carried
    keys, co-located if both sides are bucketed on conv_id."""
    joined = extracted.select(
        "conv_id", "turn_idx", "extracted_text", "spans"
    ).join(transcripts.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])

    def run(batches):
        from webtext_extraction_spark.kernel.tracked import reconstruct

        for pdf in batches:
            ok = []
            for payload, text, spans in zip(pdf["text"], pdf["extracted_text"], pdf["spans"]):
                try:
                    span_dicts = [
                        {"start": s["start"], "end": s["end"], "kind": s["kind"]}
                        for s in spans
                    ]
                    good = reconstruct(payload or "", text or "", span_dicts) == (text or "")
                except Exception:
                    good = False
                ok.append("ok" if good else "mismatch")
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"].astype("int32"),
                    "span_ok": ok,
                }
            )

    return joined.mapInPandas(run, AUDIT_SCHEMA)


def renderable(df: DataFrame) -> DataFrame:
    """F5/F6 — rows that appear in rendered output: failure-template and
    error-pattern rows excluded, timeout rows KEPT (W:1628-1630, Q5)."""
    return df.filter(~F.col("status").isin("failure_template", "error_pattern"))
