"""Relational operators from the SURVEY.md §2 inventory, as reusable
DataFrame functions (each with a DuckDB oracle in __spark_entry__).

These are deliberately thin: the point is the *plan shape* — broadcast
the small side (J3), anti-join on keys (J2), lag windows (J4),
row_number top-k (A4/O3), union with source ordering (U2) — not
reimplementing Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from webtext_extraction_spark import rules


def url_exclusion_filter(df: DataFrame, url_col: str) -> DataFrame:
    """F1/F2 — drop rows whose URL matches any exclusion regex; one
    compiled alternation so Catalyst sees a single rlike predicate."""
    combined = "|".join(f"(?:{p})" for p in rules.URL_EXCLUDE_PATTERNS)
    return df.filter(~F.col(url_col).rlike(combined))


def nav_text_filter(df: DataFrame, text_col: str) -> DataFrame:
    """F3 — drop anchor-text rows that are nav words or ≤2 chars."""
    combined = "|".join(rules.NAV_TEXT_WORDS)
    return df.filter(
        (F.length(F.col(text_col)) > 2) & ~F.col(text_col).rlike(combined)
    )


def success_threshold(df: DataFrame, text_col: str, threshold: int = 100) -> DataFrame:
    """F4 — ≥100-char success predicate as a labeled projection."""
    return df.withColumn(
        "extraction_ok", (F.length(F.trim(F.col(text_col))) >= threshold)
    )


def broadcast_rule_lookup(df: DataFrame, key_col: str, rules_df: DataFrame, rule_key: str) -> DataFrame:
    """J3 — broadcast map-side join against a small rule table."""
    return df.join(F.broadcast(rules_df), F.col(key_col) == F.col(rule_key), "left")


def anti_join_completed(df: DataFrame, done: DataFrame, key: str) -> DataFrame:
    """J2 — remaining = all − completed."""
    return df.join(done, on=key, how="left_anti")


def lag_over(df: DataFrame, part: str, order: str, col: str) -> DataFrame:
    """J4 — previous-row back-reference as a lag window (replaces the
    reference's O(n²) positional self-scan, integrated.py:19-42)."""
    w = Window.partitionBy(part).orderBy(order)
    return df.withColumn(f"prev_{col}", F.lag(col).over(w))


def topk_per_group(df: DataFrame, part: str, order_col: str, k: int, tiebreak: str) -> DataFrame:
    """A4/O3 — row_number ≤ k per group with deterministic ties."""
    w = Window.partitionBy(part).orderBy(F.desc(order_col), F.asc(tiebreak))
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def union_sources(a: DataFrame, b: DataFrame, a_name: str, b_name: str) -> DataFrame:
    """U2 — ordered union of two sources (google ⧺ yahoo analogue)."""
    return a.withColumn("source_name", F.lit(a_name)).unionByName(
        b.withColumn("source_name", F.lit(b_name))
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak: str,
) -> DataFrame:
    """Session segmentation over an event/transcript stream: within
    each ``key_col`` partition, a new session starts whenever the gap
    to the previous event exceeds ``gap_seconds`` — the standard
    activity-sessionization window (and the conversation-segmentation
    step of an agent-transcript pipeline: one conv_id, sessions split
    on idle gaps).

    Shape: ONE shuffle (hash on the key), two stacked windows over the
    SAME partitioning (lag + running sum share one sort — Catalyst
    plans a single Exchange + Sort, plan-audited).  Gap arithmetic is
    integer MICROSECONDS (``unix_micros`` / DuckDB ``epoch_us``) so
    the session boundaries replay bit-exactly cross-engine — a
    seconds-cast would truncate sub-second gaps.

    Output: input columns + ``session_idx`` (0-based per key, in
    (ts, tiebreak) order).  ``tiebreak`` is REQUIRED: equal timestamps
    would otherwise make lag order — and therefore session ids —
    partition-order-dependent.

    Skew note: an order-sensitive per-key window cannot be salted —
    one task sorts the largest key's full history, so a single
    pathological key (one conversation with 10⁹ turns) bounds the
    stage, and a key whose history outgrows one task's sort spills,
    then fails.
    """
    if gap_seconds < 0:
        raise ValueError(f"gap_seconds must be >= 0, got {gap_seconds}")
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak)
    # cast handles TIMESTAMP_NTZ inputs: the session timezone is pinned
    # to UTC (session.py), so NTZ wall time -> epoch micros matches
    # DuckDB epoch_us exactly; for TIMESTAMP inputs the cast is a no-op
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    new_session = (
        F.when(us - F.lag(us).over(w) > gap_seconds * 1_000_000, 1)
        .otherwise(0)
        .cast("long")
    )
    run = Window.partitionBy(key_col).orderBy(ts_col, tiebreak).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("session_idx", F.sum(new_session).over(run))


def session_rollup(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak: str,
) -> DataFrame:
    """Per-session rollup over :func:`sessionize`: (key, session_idx,
    n_events, min/max tiebreak id, duration_us).  Duration stays in
    integer microseconds (exact cross-engine; callers divide for
    seconds).  Adds one groupBy shuffle on (key, session_idx) — keys at
    least as uniform as the input keys."""
    s = sessionize(df, key_col, ts_col, gap_seconds, tiebreak)
    # cast handles TIMESTAMP_NTZ inputs: the session timezone is pinned
    # to UTC (session.py), so NTZ wall time -> epoch micros matches
    # DuckDB epoch_us exactly; for TIMESTAMP inputs the cast is a no-op
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return (
        s.groupBy(key_col, "session_idx")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(tiebreak).alias("min_id"),
            F.max(tiebreak).alias("max_id"),
            (F.max(us) - F.min(us)).alias("duration_us"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "backward",
    tolerance_us: int | None = None,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the nearest right row on
    the same key at-or-before (``backward``) / at-or-after
    (``forward``) its timestamp — the standard "state in effect at
    event time" join of a training-data pipeline (rule-table version
    per turn, latest checkpoint per event, price as of trade).

    Spark has no native as-of join; the naive formulations are a
    non-equi range join (BNLJ — quadratic per key) or a groupBy-max
    correlated subquery (two joins + an extra shuffle).  This is the
    merge-join formulation instead: union-tag both sides, ONE hash
    shuffle on the key, one sort per partition, and a running
    ``last(value, ignorenulls=True)`` window — O(n log n) per
    partition, payload columns ride a single struct.  Same skew limit
    as :func:`sessionize`: one task sorts a key's whole merged
    left+right history.

    Semantics (pinned by the python-oracle unit tests and the DuckDB
    ``ASOF JOIN`` gate oracle):

    * match is INCLUSIVE at equal timestamps (right-at-ts visible to
      left-at-ts), matching DuckDB's ``l.ts >= r.ts``;
    * equal-(key, ts) right rows: the max ``right_tiebreak`` wins
      (required when right is not unique per (key, ts) — DuckDB's
      ASOF picks an arbitrary one there, so gate queries must
      pre-dedup the right side);
    * a NULL key matches nothing (``l.k = r.k`` is never true for
      NULL): NULL-keyed right rows are dropped before the union;
    * ``tolerance_us`` nulls out matches staler than the bound
      (DuckDB replays it as a post-join CASE WHEN);
    * unmatched left rows keep NULL value/match columns (left join).

    Output: all left columns + ``value_cols`` (from the matched right
    row) + ``matched_ts_us`` (epoch micros of the matched right row,
    long) — integer microseconds for exact cross-engine arithmetic,
    same convention as :func:`sessionize`.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    sign = 1 if direction == "backward" else -1
    clash = [c for c in value_cols if c in left.columns]
    if clash:
        raise ValueError(f"value_cols collide with left columns: {clash}")
    reserved = {"_k", "_ord_us", "_side", "_tb", "_rv", "_m", "matched_ts_us"}
    bad = sorted(reserved & set(left.columns)) + [
        c for c in value_cols if c == "matched_ts_us"
    ]
    if bad:
        raise ValueError(f"columns collide with asof_join internals: {bad}")

    # cast handles TIMESTAMP_NTZ inputs (UTC session tz, see sessionize)
    l_us = F.unix_micros(F.col(left_ts).cast("timestamp"))
    r_us = F.unix_micros(F.col(right_ts).cast("timestamp"))
    r_tb = F.col(right_tiebreak) if right_tiebreak else F.lit(0)
    rhs = right.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).alias("_k"),
        (r_us * sign).alias("_ord_us"),
        F.lit(0).alias("_side"),
        r_tb.alias("_tb"),
        F.struct(
            r_us.alias("matched_ts_us"), *[F.col(c) for c in value_cols]
        ).alias("_rv"),
    )
    lhs = left.select(
        "*",
        F.col(key_col).alias("_k"),
        (l_us * sign).alias("_ord_us"),
        F.lit(1).alias("_side"),
    )
    # right rows sort before left rows at equal ts (inclusive match);
    # among equal-(key, ts) right rows the max tiebreak sorts last and
    # therefore wins the running last()
    w = (
        Window.partitionBy("_k")
        .orderBy("_ord_us", "_side", "_tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        lhs.unionByName(rhs, allowMissingColumns=True)
        .withColumn("_m", F.last("_rv", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    if tolerance_us is not None:
        # staleness = sign·(l_us − r_us); with _ord_us = l_us·sign this
        # is _ord_us − sign·matched_ts_us (≥ 0 in both directions)
        staleness = F.col("_ord_us") - F.col("_m").getField("matched_ts_us") * sign
        out = out.withColumn(
            "_m", F.when(staleness <= tolerance_us, F.col("_m"))
        )
    return out.select(
        *left.columns,
        *[F.col("_m").getField(c).alias(c) for c in value_cols],
        F.col("_m").getField("matched_ts_us").alias("matched_ts_us"),
    )


def nav_char_ratio(df: DataFrame, text_col: str, phrases: list[str]) -> DataFrame:
    """A5 — sum of matched phrase lengths / total length, pure SQL."""
    phrase_arr = (
        F.lit(list(phrases)) if phrases else F.array().cast("array<string>")
    )
    matched = F.aggregate(
        F.filter(phrase_arr, lambda p: F.col(text_col).contains(p)),
        F.lit(0),
        lambda acc, p: acc + F.length(p),
    )
    return df.withColumn(
        "nav_ratio",
        F.round(matched / F.greatest(F.length(F.trim(F.col(text_col))), F.lit(1)), 6),
    )
