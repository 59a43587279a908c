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

    Skew note (stated honestly): an order-sensitive per-key window
    cannot be salted — one task sorts the largest key's full history,
    so a single pathological key (one conversation with 10⁹ turns)
    bounds the stage.  At that shape use :func:`sessionize_bounded`,
    which range-partitions the key's timeline and stitches boundary
    sessions (the pack_sequences offset move).
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


def sessionize_bounded(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """:func:`sessionize` without the per-key single-task sort — the
    range-partition + driver-stitch formulation (pack_sequences'
    offset move) for corpora where one pathological key's history
    outgrows a task.  Output is identical to sessionize (parity test
    + the same DuckDB oracle at the gate); only the plan differs.

    Shape:

    1. ``repartitionByRange`` on (key, ts, tiebreak) — a hot key's
       timeline spreads over many RANGE partitions (contiguous by
       construction).
    2. Per-partition windows on (pid, key) compute LOCAL new-session
       flags and running sums — every task sorts only its own range;
       flag + running sum stack on one Exchange+Sort, and a
       ``localCheckpoint`` AFTER the window pass pins both the range
       assignment and the computed flags for every downstream job.
    3. Two tiny driver jobs (the bounded-scalar class): per-partition
       first/last (key, ts) structs, then local flag totals for just
       the ≤2·P boundary keys.  The driver walks partitions in order
       and computes, for each partition whose FIRST key continues
       from the previous partition, the carried session offset =
       carried + previous portion's flags + the boundary gap flag.
    4. A broadcast (pid, stitch_key, stitch_offset) join adds the
       carry to exactly the rows of each partition's first key.

    Only keys that CROSS a range boundary need stitching, so driver
    data is O(num_partitions), never O(num_keys).

    Regime (measured honestly — bench_skew_window): on a single box
    this formulation costs ~2-3× plain sessionize (a range-sampling
    pass + an extra shuffle + the checkpoint materialization) and at
    97 %-hot/8M events its skew penalty is only modestly better
    (2.6× vs 3.8×).  Its purpose is AVAILABILITY at cluster scale:
    when one key's history exceeds a single task's sort capacity
    (~10⁸+ rows — spill, then OOM), plain sessionize fails outright
    while this splits the key across `num_partitions` sorts.  Use
    sessionize by default; switch when a key approaches task limits.
    """
    if gap_seconds < 0:
        raise ValueError(f"gap_seconds must be >= 0, got {gap_seconds}")
    reserved = {"_pid", "_us", "_flag", "_run", "_stitch_key", "_stitch_off"}
    bad = sorted(reserved & set(df.columns))
    if bad:
        raise ValueError(f"columns collide with sessionize_bounded internals: {bad}")
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    gap_us = gap_seconds * 1_000_000

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ranged = (
        df.withColumn("_us", us)
        .repartitionByRange(num_partitions, F.col(key_col), F.col(ts_col), F.col(tiebreak))
        .withColumn("_pid", F.spark_partition_id())
    )
    # lag flag + running sum stack on ONE Exchange+Sort (the sessionize
    # plan shape); the localCheckpoint sits AFTER the window pass so
    # the two driver jobs and the final projection all read the
    # materialized flags instead of re-running the window pipeline —
    # first formulation checkpointed before the window and measured 3
    # full window evaluations (uniform-corpus overhead 4-8× plain
    # sessionize; ~2× after this move)
    w = Window.partitionBy("_pid", key_col).orderBy(ts_col, tiebreak)
    flag = (
        F.when(F.col("_us") - F.lag("_us").over(w) > gap_us, 1).otherwise(0).cast("long")
    )
    flagged = (
        ranged.withColumn("_flag", flag)
        .withColumn(
            "_run",
            F.sum("_flag").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .localCheckpoint()
    )

    # driver job 1: per-partition first/last (key, us, tiebreak)
    edge = F.struct(F.col(key_col), F.col("_us"), F.col(tiebreak))
    summary = {
        r["_pid"]: r
        for r in flagged.groupBy("_pid")
        .agg(F.min(edge).alias("_first"), F.max(edge).alias("_last"))
        .collect()
    }
    # driver job 2: local flag totals for boundary keys only.  NULL is
    # a legitimate key value (the window formulation groups NULLs like
    # any other key — ADVICE r05): keep it out of sorted()/isin(),
    # which would raise / silently drop it, and filter it explicitly.
    boundary_key_set = {r["_first"][key_col] for r in summary.values()} | {
        r["_last"][key_col] for r in summary.values()
    }
    has_null_boundary = None in boundary_key_set
    boundary_keys = sorted(k for k in boundary_key_set if k is not None)
    boundary_pred = F.col(key_col).isin(boundary_keys)
    if has_null_boundary:
        boundary_pred = boundary_pred | F.col(key_col).isNull()
    flagsum = {
        (r["_pid"], r[key_col]): r["s"]
        for r in flagged.filter(boundary_pred)
        .groupBy("_pid", key_col)
        .agg(F.sum("_flag").alias("s"))
        .collect()
    }

    stitches = []  # (pid, first_key, carry)
    prev = None  # (pid, last_key, last_us, carried_total_for_last_key)
    for pid in sorted(summary):
        first_key, first_us = summary[pid]["_first"][key_col], summary[pid]["_first"]["_us"]
        last_key, last_us = summary[pid]["_last"][key_col], summary[pid]["_last"]["_us"]
        carry = 0
        if prev is not None and prev[1] == first_key:
            p_pid, p_key, p_us, p_carried = prev
            boundary = (
                1
                if (p_us is not None and first_us is not None and first_us - p_us > gap_us)
                else 0
            )
            carry = p_carried + flagsum.get((p_pid, p_key), 0) + boundary
        if carry:
            stitches.append((pid, first_key, carry))
        prev = (pid, last_key, last_us, carry if first_key == last_key else 0)

    out = flagged
    if stitches:
        stitch_df = spark.createDataFrame(
            stitches, schema=f"_pid int, _stitch_key {df.schema[key_col].dataType.simpleString()}, _stitch_off long"
        )
        out = out.join(F.broadcast(stitch_df), "_pid", "left").withColumn(
            "session_idx",
            F.col("_run")
            + F.coalesce(
                F.when(
                    # eqNullSafe: a NULL key spanning a range boundary
                    # must still receive its carried offset (ADVICE
                    # r05).  The outer coalesce covers the join-miss
                    # case, where _stitch_key is NULL and eqNullSafe
                    # against a NULL-key row is (wrongly) true with a
                    # NULL offset.
                    F.col(key_col).eqNullSafe(F.col("_stitch_key")),
                    F.col("_stitch_off"),
                ).otherwise(0),
                F.lit(0),
            ),
        )
    else:
        out = out.withColumn("session_idx", F.col("_run"))
    return out.select(*df.columns, "session_idx")


def session_rollup(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak: str,
    bounded: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-session rollup over :func:`sessionize` (or, with
    ``bounded=True``, :func:`sessionize_bounded` — identical output,
    hot-key-safe plan): (key, session_idx, n_events, min/max tiebreak
    id, duration_us).  Duration stays in integer microseconds (exact
    cross-engine; callers divide for seconds).  Adds one groupBy
    shuffle on (key, session_idx) — keys at least as uniform as the
    input keys."""
    if bounded:
        s = sessionize_bounded(
            df, key_col, ts_col, gap_seconds, tiebreak, num_partitions=num_partitions
        )
    else:
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
    partition, payload columns ride a single struct.  Same skew caveat
    as :func:`sessionize`: one pathological key serializes into one
    task's sort.

    Semantics (pinned by the python-oracle unit tests and the DuckDB
    ``ASOF JOIN`` gate oracle):

    * match is INCLUSIVE at equal timestamps (right-at-ts visible to
      left-at-ts), matching DuckDB's ``l.ts >= r.ts``;
    * equal-(key, ts) right rows: the max ``right_tiebreak`` wins
      (required when right is not unique per (key, ts) — DuckDB's
      ASOF picks an arbitrary one there, so gate queries must
      pre-dedup the right side);
    * ``tolerance_us`` nulls out matches staler than the bound
      (DuckDB replays it as a post-join CASE WHEN);
    * unmatched left rows keep NULL value/match columns (left join).

    Output: all left columns + ``value_cols`` (from the matched right
    row) + ``matched_ts_us`` (epoch micros of the matched right row,
    long) — integer microseconds for exact cross-engine arithmetic,
    same convention as :func:`sessionize`.
    """
    unioned, sign = _asof_union(
        left, right, key_col, left_ts, right_ts, value_cols, direction, right_tiebreak
    )
    # right rows sort before left rows at equal ts (inclusive match);
    # among equal-(key, ts) right rows the max tiebreak sorts last and
    # therefore wins the running last()
    w = (
        Window.partitionBy("_k")
        .orderBy("_ord_us", "_side", "_tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.withColumn("_m", F.last("_rv", ignorenulls=True).over(w))
    return _asof_finish(matched, left, value_cols, tolerance_us, sign)


def _asof_union(
    left, right, key_col, left_ts, right_ts, value_cols, direction, right_tiebreak
):
    """Shared validation + union-tag frame of the two as-of
    formulations: (key, ord_us, side, tiebreak, right-value struct)
    with left columns carried on side=1 rows."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    sign = 1 if direction == "backward" else -1
    # cast handles TIMESTAMP_NTZ inputs (UTC session tz, see sessionize)
    l_us = F.unix_micros(F.col(left_ts).cast("timestamp"))
    r_us = F.unix_micros(F.col(right_ts).cast("timestamp"))
    clash = [c for c in value_cols if c in left.columns]
    if clash:
        raise ValueError(f"value_cols collide with left columns: {clash}")
    reserved = {"_k", "_ord_us", "_side", "_tb", "_rv", "_m", "matched_ts_us",
                "_pid", "_m_loc", "_carry"}
    bad = sorted(reserved & set(left.columns)) + [
        c for c in value_cols if c == "matched_ts_us"
    ]
    if bad:
        raise ValueError(f"columns collide with asof_join internals: {bad}")

    r_tb = F.col(right_tiebreak) if right_tiebreak else F.lit(0)
    rhs = right.select(
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
    return lhs.unionByName(rhs, allowMissingColumns=True), sign


def _asof_finish(matched, left, value_cols, tolerance_us, sign):
    """Shared tail: keep left rows, apply tolerance, project values."""
    out = matched.filter(F.col("_side") == 1)
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


def asof_join_bounded(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "backward",
    tolerance_us: int | None = None,
    right_tiebreak: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """:func:`asof_join` without the per-key single-task sort — the
    hot-key-safe sibling of :func:`sessionize_bounded` (same regime
    statement: an AVAILABILITY operator for a key whose merged
    left+right history exceeds one task's sort capacity; identical
    output, parity-tested and gated on asof_join's own oracle).

    Shape: range-partition the union-tag frame on (key, ord, side,
    tiebreak); per-partition running ``last(_rv, ignorenulls)``
    windows (localCheckpoint AFTER the window — the
    sessionize_bounded lesson); then stitching WITHOUT transporting
    any right-row values through the driver: one tiny driver job
    yields the ≤2·P boundary keys, a small Spark-side edge frame
    (final local match per (partition, boundary key)) gets its own
    running-last window over partition ids, and a broadcast join
    hands each partition the carry — rows whose local running last is
    still NULL coalesce to it.  Driver data is O(P) key scalars,
    never values.
    """
    spark = left.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    unioned, sign = _asof_union(
        left, right, key_col, left_ts, right_ts, value_cols, direction, right_tiebreak
    )
    parted = unioned.repartitionByRange(
        num_partitions, F.col("_k"), F.col("_ord_us"), F.col("_side"), F.col("_tb")
    ).withColumn("_pid", F.spark_partition_id())
    w_loc = (
        Window.partitionBy("_pid", "_k")
        .orderBy("_ord_us", "_side", "_tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = parted.withColumn(
        "_m_loc", F.last("_rv", ignorenulls=True).over(w_loc)
    ).localCheckpoint()

    # driver job: boundary keys only (first/last key per partition)
    edges = {
        r["_pid"]: r
        for r in loc.groupBy("_pid")
        .agg(F.min("_k").alias("_first"), F.max("_k").alias("_last"))
        .collect()
    }
    raw_keys = {r["_first"] for r in edges.values()} | {
        r["_last"] for r in edges.values()
    }
    has_null_key = None in raw_keys
    boundary_keys = sorted(k for k in raw_keys if k is not None)
    if raw_keys:
        # final local match per (pid, boundary key): the _m_loc of the
        # group's LAST row; carry for pid p = last non-null final match
        # over pids < p of the same key (tiny frame, values never leave
        # Spark).  NULL keys group together in the as-of window, so
        # they participate via null-safe predicates when present.
        is_boundary = F.col("_k").isin(boundary_keys) if boundary_keys else F.lit(False)
        if has_null_key:
            is_boundary = is_boundary | F.col("_k").isNull()
        finals = (
            loc.filter(is_boundary)
            .groupBy("_pid", "_k")
            .agg(
                F.max_by(
                    "_m_loc", F.struct("_ord_us", "_side", "_tb")
                ).alias("_last_rv")
            )
        )
        w_edge = (
            Window.partitionBy("_k")
            .orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carries = (
            finals.withColumn(
                "_carry", F.last("_last_rv", ignorenulls=True).over(w_edge)
            )
            .filter(F.col("_carry").isNotNull())
            .select(
                F.col("_pid").alias("_c_pid"),
                F.col("_k").alias("_c_k"),
                "_carry",
            )
        )
        matched = (
            loc.join(
                F.broadcast(carries),
                (F.col("_pid") == F.col("_c_pid"))
                & F.col("_k").eqNullSafe(F.col("_c_k")),
                "left",
            )
            .withColumn("_m", F.coalesce("_m_loc", "_carry"))
            .drop("_c_pid", "_c_k", "_carry")
        )
    else:
        matched = loc.withColumn("_m", F.col("_m_loc"))
    return _asof_finish(matched, left, value_cols, tolerance_us, sign)


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
