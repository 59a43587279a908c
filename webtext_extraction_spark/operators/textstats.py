"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting, repetition profiling.

All are pure column-expression / groupBy operators (whole-stage
codegen, zero Python) with exact DuckDB oracles.  The heuristics are
the standard cheap pre-filters of a training-data pipeline — not
models:

- lang_id: charset-share heuristic (JP ranges vs ASCII) + stopword hit
  rate for en; 'unknown' when neither dominates.
- quality_score: bounded combination of length, alpha ratio,
  punctuation ratio, stopword ratio, mean word length.
- token counts: whitespace tokens and a BPE-ish regex token count
  (word pieces / numbers / punctuation runs).
- fingerprint: order-sensitive modular polynomial hash over word
  hashes — a rolling-hash document signature that is identical in
  Spark, DuckDB, and Python (used for fast order-sensitive dedup,
  complementing the order-insensitive minhash).
- repetition_profile: within-document repetition fractions in the
  style of Gopher's repetition filters (Rae et al. 2021, table A1) —
  duplicate-word and duplicate-n-gram character fractions plus the
  top-n-gram character share.

Every row-local signal is one entry of ``_signal_table``: whether a
gate filters on it, the sorted gram array it reads, and its expression.
:func:`with_signals` adds the named signals and only what they read:
the word array ``_ws_<text>`` and its stopword count ``_stops_<text>``,
plain Projects a chain of calls shares (one tokenize and count), and
the sorted arrays.  The gated signals leave through ``_fence``, a
one-row ``inline``: Catalyst pushes a Filter through a Project with the
aliases inlined, and lambdas escape common-subexpression elimination,
so a Filter on an unfenced signal re-runs the tokenize and its lambdas.
Catalyst prunes no field of the fence, so a caller names only what it
reads.  The other signals stay in plain Projects, which Catalyst prunes
when unread (a second Generate per row for the word array cost
text_profile 20-30% at sf0.1).  Fences are pinned by tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from webtext_extraction_spark.functions.text import (
    ngrams_of_words,
    portable_hash64,
    words,
)

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"]

# quality_gate fail-reason bits (stable public contract — downstream
# jobs select on the mask, so values never change meaning)
GATE_TOO_FEW_WORDS = 1
GATE_TOO_MANY_WORDS = 2
GATE_MEAN_WORD_LEN = 4
GATE_STOPWORDS = 8
GATE_MAX_WORD_LEN = 16
GATE_DUP_WORDS = 32
GATE_ALPHA = 64
FP_MOD = 1_000_000_007
FP_TOKEN_MOD = 1_000_003
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _char_count(col, pattern: str) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, pattern, ""))


def _fence(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """``df`` plus ``cols``, replacing same-named columns, out of a one-row ``inline``."""
    row = F.struct(*(e.alias(name) for name, e in cols.items()))
    return df.drop(*cols).select("*", F.inline(F.array(row)))


def lang_id_expr(col, ws, stop_hits) -> Column:
    jp = _char_count(col, r"[ぁ-んァ-ヶ一-龯ー]")
    total = F.greatest(F.length(col), F.lit(1))
    n_words = F.greatest(F.size(ws), F.lit(1))
    alpha_ratio = _char_count(col, r"[A-Za-z ]") / total
    return (
        F.when(jp / total > 0.2, F.lit("ja"))
        .when((alpha_ratio > 0.7) | (stop_hits / n_words > 0.05), F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


def quality_score_expr(col, ws, stop_hits) -> Column:
    """0..1 quality heuristic: rewards mid-length docs with normal
    punctuation/stopword profiles; penalizes fragments and symbol soup."""
    n = F.length(col).cast("double")
    n_words = F.greatest(F.size(ws), F.lit(1)).cast("double")
    punct_ratio = _char_count(col, r"[^\w\s]") / F.greatest(n, F.lit(1.0))
    stop_ratio = stop_hits.cast("double") / n_words
    mean_word_len = F.greatest(n, F.lit(1.0)) / n_words
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_score = F.when(punct_ratio < 0.2, 1.0).otherwise(
        F.greatest(F.lit(0.0), 1.0 - (punct_ratio - 0.2) * 2.0)
    )
    stop_score = F.least(stop_ratio * 5.0, F.lit(1.0))
    wordlen_score = F.when((mean_word_len >= 3.0) & (mean_word_len <= 12.0), 1.0).otherwise(0.5)
    return F.round(
        0.4 * len_score + 0.2 * punct_score + 0.2 * stop_score + 0.2 * wordlen_score, 6
    )


def fingerprint_expr(ws) -> Column:
    """Order-sensitive rolling hash: acc = (acc*31 + h(w) mod 1e6+3)
    mod 1e9+7 — stays < 2^35 at every step, so no overflow divergence
    between engines.  NULL text fingerprints as the empty document
    (0) — Spark's aggregate would otherwise propagate NULL while the
    DuckDB replay yields 0 (found by the r4 random-corpus soak; the
    driver corpus carries no NULL text, so the gate never saw it)."""
    return F.aggregate(
        F.coalesce(ws, F.array().cast("array<string>")),
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 31 + portable_hash64(w) % FP_TOKEN_MOD) % FP_MOD,
    )


def repetition_profile(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 2, dup_n: int = 5
) -> DataFrame:
    """Within-document repetition metrics — the engine's variant of the
    Gopher repetition filters (Rae et al. 2021, "Scaling Language
    Models", appendix A1.1; the same family FineWeb/Dolma apply).  The
    corpus here is single-line text, so the line/paragraph variants are
    expressed over words and word-n-grams:

    - dup_word_frac        (n_words - n_distinct_words) / n_words
    - dup_word_char_frac   char mass (all occurrences) of words that
                           appear >= 2 times / total word char mass
    - top_ngram_char_frac  count(most frequent top_n-gram) * len(gram)
                           / length(text); ties break to the
                           lexicographically greatest gram (struct max,
                           identical in Spark and DuckDB)
    - dup_ngram_char_frac  char mass of dup_n-grams occurring >= 2
                           times / length(text).  Overlapping
                           occurrences are each counted (the cheap
                           upper-bound variant; Gopher's exact overlap
                           dedup needs per-doc interval merging), so
                           the value can exceed 1 on degenerate text —
                           filters threshold it, they don't sum it.

    :data:`REPETITION_SIGNALS` keyed by id, behind the zero-word fence:
    docs with zero words drop out (documented; :func:`with_signals`
    keeps them, the last three NULL).
    """
    # rlike guard == size(words)>0 without re-running the tokenize in
    # the pushed-down scan filter (same move as minhash_lsh_pairs)
    fenced = df.filter(F.col(text_col).rlike(r"\S"))
    return with_signals(fenced, text_col, REPETITION_SIGNALS, top_n, dup_n).select(
        id_col, *REPETITION_SIGNALS
    )


PROFILE_SIGNALS = ("lang_pred", "quality", "ws_tokens", "bpe_tokens", "fingerprint")
GATE_SIGNALS = (
    "n_words", "mean_word_len", "stop_ratio", "max_word_len", "dup_word_frac", "alpha_ratio"
)
REPETITION_SIGNALS = (
    "n_words", "dup_word_frac", "dup_word_char_frac", "top_ngram_char_frac", "dup_ngram_char_frac"
)


def _signal_table(text: Column, ws: Column, stops: Column, top_n: int, dup_n: int) -> dict:
    """name -> (fenced, n, expr) for every row-local signal: whether a
    gate filters on it (it leaves through :func:`_fence`, else a plain
    Project), the gram size of the sorted array ``_rp_s<n>`` it reads,
    if any, and a thunk that builds its expression."""
    words_ = F.coalesce(ws, F.array().cast("array<string>"))  # NULL text has no words here
    n_words = F.size(words_)
    text_ = F.coalesce(text, F.lit(""))
    chars = F.length(text)

    def per_word(count: Column) -> Column:  # 0 for a zero-word doc, no /0 under ANSI
        return F.round(count.cast("double") / F.greatest(n_words, F.lit(1)).cast("double"), 6)

    def repetition(frac: Column) -> Column:  # NULL for a zero-word doc
        return F.when(F.size(ws) > 0, F.round(frac, 6))

    def srt(n: int) -> Column:
        return F.col(f"_rp_s{n}")

    return {
        "lang_pred": (True, None, lambda: lang_id_expr(text, ws, stops)),
        "quality": (True, None, lambda: quality_score_expr(text, ws, stops)),
        "ws_tokens": (False, None, lambda: F.size(ws)),
        "bpe_tokens": (False, None, lambda: F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))),
        "fingerprint": (False, None, lambda: fingerprint_expr(ws)),
        "n_words": (True, None, lambda: n_words),
        "mean_word_len": (True, None, lambda: per_word(_mass(words_))),
        # NULL text has NULL hits (the profile scores on that); here it has none
        "stop_ratio": (True, None, lambda: per_word(F.greatest(stops, F.lit(0)))),
        "max_word_len": (
            True, None, lambda: F.coalesce(F.array_max(F.transform(words_, F.length)), F.lit(0))
        ),
        "dup_word_frac": (True, None, lambda: per_word(n_words - F.size(F.array_distinct(words_)))),
        "alpha_ratio": (True, None, lambda: F.round(
            _char_count(text_, r"[A-Za-z ]") / F.greatest(F.length(text_), F.lit(1)), 6
        )),
        "dup_word_char_frac": (True, 1, lambda: repetition(_dup_mass(srt(1)) / _mass(srt(1)))),
        "top_ngram_char_frac": (True, top_n, lambda: repetition(
            F.coalesce(_top_run_mass(srt(top_n)) / chars, F.lit(0.0))
        )),
        "dup_ngram_char_frac": (True, dup_n, lambda: repetition(_dup_mass(srt(dup_n)) / chars)),
    }


def with_signals(
    df: DataFrame, text_col: str, names, top_n: int = 2, dup_n: int = 5
) -> DataFrame:
    """``df`` plus the named signals of ``text_col`` (module docstring),
    leaving the shared word columns for the next call: callers select
    their columns, and one that rewrites the text drops them first.
    Each gram array a signal reads is sorted once per row by
    ``sort_array`` (native ordering, not ``array_sort``'s comparator
    lambda) in a Project below the fence: inlined into the lambdas that
    index it, it would re-sort per element."""
    if top_n < 1 or dup_n < 1:
        raise ValueError(f"gram sizes must be >= 1, got top_n={top_n} dup_n={dup_n}")
    ws_col, stops_col = f"_ws_{text_col}", f"_stops_{text_col}"
    ws, stops = F.col(ws_col), F.col(stops_col)
    # added only when no earlier call added them; the count's Project
    # reads the words from the one below
    if ws_col not in df.columns:
        df = df.withColumn(ws_col, words(F.col(text_col))).withColumn(
            stops_col, F.size(F.filter(ws, lambda w: F.lower(w).isin(EN_STOPWORDS)))
        )
    table = _signal_table(F.col(text_col), ws, stops, top_n, dup_n)
    signals = {name: table[name] for name in names}
    srt = {f"_rp_s{n}": n for _, n, _ in signals.values() if n}
    plain = {name: expr() for name, (fenced, _, expr) in signals.items() if not fenced}
    gated = {name: expr() for name, (fenced, _, expr) in signals.items() if fenced}
    df = df.withColumns(
        {col: F.sort_array(ws if n == 1 else ngrams_of_words(ws, n)) for col, n in srt.items()}
        | plain
    )
    return (_fence(df, gated) if gated else df).drop(*srt)


def _mass(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, g: acc + F.length(g))


def _dup_mass(srt: Column) -> Column:
    """Char mass of the sorted array's elements equal to a neighbour
    (``get`` is NULL out of range, where ANSI mode rejects ``[]``)."""
    return _mass(F.filter(srt, lambda g, i: (g == F.get(srt, i - 1)) | (g == F.get(srt, i + 1))))


def _top_run_mass(srt: Column) -> Column:
    """count * length of the most frequent gram of a sorted array (NULL
    when empty): the struct max of (run length, gram) over its runs."""
    def step(acc, g):
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(1)
        top = F.greatest(acc["top"], F.struct(run.alias("c"), g.alias("gram")))
        return F.struct(g.alias("prev"), run.alias("run"), top.alias("top"))

    start = F.expr(
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L,"
        " 'top', named_struct('c', 0L, 'gram', CAST(NULL AS STRING)))"
    )
    return F.aggregate(srt, start, step, lambda acc: acc["top"]["c"] * F.length(acc["top"]["gram"]))


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = 512,
    order_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget
    training bins — the standard pre-training batching step (pack
    short docs together so sequences waste no pad tokens).

    True first-fit packing is sequential; the distributable rule used
    here is deterministic contiguous chunking over a stable order
    (``order_col``, default the id): bin k holds the docs whose
    EXCLUSIVE running token sum starts in [k*budget, (k+1)*budget).
    A document straddling a boundary stays in the bin it started in,
    so bins can exceed the budget by at most one document — the
    documented trade for a distributed scan (an exact
    budget-resetting cumsum is non-associative).

    Shape (the 100 TB formulation): the running sum is computed PER
    RANGE PARTITION with driver-added offsets, never through a single
    global window task:

    1. project (id, tokens, order) — the only text scan — then
       ``repartitionByRange`` on the order keys and localCheckpoint.
       The checkpoint pins one evaluation of the ranged projection so
       the partition ids seen by step 2 and step 3 are THE SAME
       assignment (range boundaries come from a sampling pass;
       re-evaluating could legally re-draw them).  It materializes
       only this narrow projection, not the text.
    2. one tiny driver job collects per-partition token totals
       (``num_partitions`` longs) and prefix-sums them into exclusive
       partition offsets — the same driver-scalar move the skew probe
       and k-means make.
    3. per-partition window (partitionBy the physical partition id,
       which is ordered by construction of range partitioning) + the
       broadcast offset map gives every row its GLOBAL exclusive
       running sum; bin_id = floor(sum / budget) as before.

    Every task sorts only its own range — no single-task global sort,
    no "No Partition Defined" window — and the bin rollup window
    shuffles on bin_id (uniform by construction: bins are contiguous
    token chunks).  Output is identical to the single-global-window
    formulation (the DuckDB oracle replays that one exactly).

    Output: one row per doc (id, tokens, bin_id) plus per-bin rollups
    (bin_tokens, bin_docs) — callers group by bin_id to materialize.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    order = order_col or id_col
    # id tiebreak: a non-unique caller order key would otherwise make
    # positions inside the ROWS frame partition-order-dependent and
    # break the operator's determinism contract
    order_keys = [order] if order == id_col else [order, id_col]
    toks = F.size(words(F.col(text_col)))
    cols = [F.col(id_col), toks.alias("tokens")]
    if order != id_col:
        cols.append(F.col(order))
    base = df.select(*cols)
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        base.repartitionByRange(num_partitions, *[F.col(k) for k in order_keys])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = {
        r["_pid"]: r["t"]
        for r in ranged.groupBy("_pid").agg(F.sum("tokens").alias("t")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    if offsets:
        off_df = spark.createDataFrame(offsets, schema="_pid int, _off long")
        joined = ranged.join(F.broadcast(off_df), "_pid")
    else:
        joined = ranged.withColumn("_off", F.lit(0).cast("long"))
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = joined.withColumn(
        "bin_id",
        F.floor(
            (F.col("_off") + F.coalesce(F.sum("tokens").over(w), F.lit(0))) / budget
        ),
    )
    wb = Window.partitionBy("bin_id")
    return binned.select(
        id_col,
        "tokens",
        "bin_id",
        F.sum("tokens").over(wb).alias("bin_tokens"),
        F.count("*").over(wb).alias("bin_docs"),
    )


SAMPLE_SPACE = 1_000_000


def sample_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    salt: str = "mix-v1",
) -> DataFrame:
    """Deterministic per-source subsampling — the data-mixing step of
    a training pipeline (down-weight overrepresented sources to hit a
    target mixture).  A row survives iff
    ``portable_hash64(salt‖id) % 1e6 < rate(source) * 1e6``: no RNG,
    so the SAME rows survive on every engine, every run, and every
    cluster size — re-runs and oracle checks are exact, and changing
    ``salt`` draws an independent sample.  Pure column expressions,
    zero shuffle (the decision is per-row); rates ride a CASE
    expression, not a join, since mixtures have few sources.
    """
    for s, r in rates.items():
        if not (0.0 <= r <= 1.0):
            raise ValueError(f"rate for {s!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    # thresholds become INTEGER literals driver-side: a runtime
    # `rate * 1e6` cast would TRUNCATE the double product (e.g.
    # 0.000498 * 1e6 = 497.99999...94 -> 497) while decimal engines
    # round — int(round()) here is the single cross-engine source of
    # truth, and folding the CASE into the filter avoids clobbering
    # any user column
    threshold = F.lit(int(round(default_rate * SAMPLE_SPACE)))
    for s, r in rates.items():
        threshold = F.when(
            F.col(source_col) == s, F.lit(int(round(r * SAMPLE_SPACE)))
        ).otherwise(threshold)
    ticket = portable_hash64(
        F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))
    ) % SAMPLE_SPACE
    return df.filter(ticket < threshold)


def sample_stratified(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    salt: str = "strat-v1",
) -> DataFrame:
    """Exactly min(k, |group|) rows per group — the fixed-size-per-
    stratum companion to :func:`sample_mix` (rate-based): eval-set
    carving, per-domain spot-check pulls, balanced few-shot pools.

    Selection is the k SMALLEST md5 tickets
    (``portable_hash64(salt‖id)``, id as tie-break) per group — a
    uniform without-replacement draw that is deterministic across
    engines/runs/cluster sizes, so re-draws never silently rotate and
    the DuckDB oracle replays the exact row set.  Changing ``salt``
    draws an independent sample.

    Output: (group_col, id_col, rk int), rk = 1..k in ticket order.

    Scale shape: one row_number window (one Exchange + one Sort on
    group)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ticket = portable_hash64(
        F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))
    )
    base = df.select(
        F.col(group_col), F.col(id_col), ticket.alias("_ticket")
    )
    w = Window.partitionBy(group_col).orderBy("_ticket", id_col)
    return (
        base.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(group_col, id_col, "rk")
    )


def sample_quota(
    df: DataFrame,
    group_col: str,
    id_col: str,
    quotas: DataFrame,
    quota_col: str = "expected_rows",
    salt: str = "strat-v1",
) -> DataFrame:
    """Per-group quota sampling — the draw stage of the mixing
    pipeline: feed :func:`mixing_weights`'s (group, expected_rows)
    table in and get exactly min(quota_g, |group g|) rows per group
    out.  Same deterministic ticket rule as
    :func:`sample_stratified` (k smallest ``portable_hash64(salt‖id)``
    per group, id tie-break), so the drawn set never silently rotates
    and the same ``salt`` yields a CONSISTENT draw across both
    operators: a group's quota-j sample is a prefix of its quota-k
    sample for j < k (growing the budget only ADDS rows — incremental
    corpus builds never churn previously selected docs).

    Groups absent from ``quotas`` (or with quota <= 0) contribute
    nothing.  ``quotas`` cardinality is driver-bounded by the mixing
    use case, so it broadcasts.

    Scale shape: one Exchange + one Sort (the per-group rank window) +
    a broadcast quota join.

    Output: (group_col, id_col, rk int), rk = 1..quota_g.
    """
    qcols = set(quotas.columns)
    if group_col not in qcols or quota_col not in qcols:
        raise ValueError(
            f"quotas needs columns ({group_col!r}, {quota_col!r}), "
            f"got {sorted(qcols)}"
        )
    ticket = portable_hash64(
        F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy("_ticket", id_col)
    return (
        df.select(F.col(group_col), F.col(id_col), ticket.alias("_ticket"))
        .join(
            F.broadcast(
                quotas.select(
                    group_col, F.col(quota_col).cast("long").alias("_q")
                )
            ),
            group_col,
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("_q"))
        .select(group_col, id_col, "rk")
    )


def split_corpus(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test carving: append a ``split`` column
    assigning each row to a named split by hash-ticket interval — the
    eval-set carve-out every training pipeline needs, with
    :func:`sample_mix`'s determinism story: no RNG, the SAME rows land
    in the same split on every engine, run, and cluster size, so an
    eval set never silently rotates between runs.  A row's ticket is
    ``portable_hash64(salt‖id) % 1e6``; split k owns the half-open
    interval [cum_k, cum_{k+1}) of integer thresholds (same
    int(round()) literal rule as sample_mix — the single cross-engine
    source of truth).  Fractions must sum to 1 (±1e-9); split order
    follows the dict's insertion order, which is part of the contract
    (reordering re-draws the boundaries).  Zero shuffle, pure column
    expressions.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if any(f < 0 for f in fractions.values()):
        raise ValueError(f"fractions must be >= 0, got {fractions}")
    bounds, acc = [], 0.0
    for name, frac in fractions.items():
        acc += frac
        bounds.append((name, int(round(acc * SAMPLE_SPACE))))
    bounds[-1] = (bounds[-1][0], SAMPLE_SPACE)  # close rounding gap at the top
    ticket = portable_hash64(
        F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))
    ) % SAMPLE_SPACE
    expr = F.lit(bounds[-1][0])
    for name, upper in reversed(bounds[:-1]):
        expr = F.when(ticket < upper, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def unigram_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus unigram counts keyed by HASHED token (portable_hash64 —
    8-byte keys ride the shuffle, the same width-bounding move the
    dedup/contamination operators make): (th: bigint, cnt: bigint).
    One explode + one groupBy shuffle.  This is the per-snapshot
    artifact :func:`unigram_logprob` reuses — learn once on the
    corpus, persist, score any table against it."""
    return (
        df.select(
            F.explode(F.transform(words(F.col(text_col)), portable_hash64)).alias("th")
        )
        .groupBy("th")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    freqs: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style unigram language-model quality score: per document,
    the mean log-probability of its tokens under the corpus unigram
    distribution (Wenzek et al. 2020 use a 5-gram KenLM; the unigram
    variant is the same filter family with an exactly-replayable
    model).  Common fluent text scores high; rare-token soup, OOV
    noise and boilerplate codes score low — threshold to filter.

    ``freqs``: optional precomputed :func:`unigram_frequencies` table
    (the per-snapshot artifact, like remove_boilerplate's gram table);
    ``None`` learns it inline from ``df`` (second text scan,
    documented — supply the artifact for the one-scan path).

    Cross-engine exactness (the part that makes this oracle-able):
    per-token logprobs are rounded to 6 dp FIRST, then summed with
    ``F.aggregate`` over a (token-hash)-sorted array — both engines
    add the same doubles in the same order, so the sum is
    bit-identical despite float addition being non-associative (a
    plain groupBy avg would sum in partition order and flap at the
    rounding boundary).  Equal sort keys carry equal values, so ties
    commute.  OOV tokens (possible only with a supplied ``freqs``)
    back off to ln(0.5/total).

    Shape: explode → [inline learn: groupBy th] → join on th →
    groupBy doc.  Shuffles carry hashes and counts, never text.  The
    learn groupBy is skew-immune (map-side partial aggregation
    collapses hot tokens before the shuffle); the score JOIN is the
    one genuinely hot-keyed stage — a token that is 5% of a 100 TB
    corpus sends 5% of the explode through one partition — which is
    exactly the shape AQE's skew-join splitting (on in session.py)
    exists for; the manual alternative (broadcast the head-K tokens,
    shuffle only the tail) is noted, not built.  Zero-token docs drop
    (callers keep them with a left join, same contract as
    repetition_profile).

    Output: (id, n_tokens, logprob_mean).
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.transform(words(F.col(text_col)), portable_hash64)).alias("th"),
    )
    if freqs is None:
        freqs = unigram_frequencies(df, text_col)
    total = freqs.agg(F.sum("cnt")).collect()[0][0] or 0
    if total == 0:
        # empty corpus: nothing can score (no tokens exist)
        return toks.select(
            F.col("_id").alias(id_col),
            F.lit(0).cast("int").alias("n_tokens"),
            F.lit(0.0).alias("logprob_mean"),
        ).limit(0)
    oov_lp = F.round(F.log(F.lit(0.5) / F.lit(float(total))), 6)
    scored = toks.join(freqs, "th", "left").select(
        "_id",
        "th",
        F.coalesce(
            F.round(F.log(F.col("cnt").cast("double") / F.lit(float(total))), 6),
            oov_lp,
        ).alias("lp"),
    )
    agg = scored.groupBy("_id").agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.array_sort(F.collect_list(F.struct("th", "lp"))).alias("_tl"),
    )
    sum_lp = F.aggregate(
        F.col("_tl"), F.lit(0.0), lambda acc, s: acc + s["lp"]
    )
    return agg.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        F.round(sum_lp / F.col("n_tokens"), 6).cast("double").alias("logprob_mean"),
    )


def ccnet_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    freqs: DataFrame | None = None,
    cutoffs: tuple[float, float] = (1 / 3, 2 / 3),
    num_partitions: int | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail corpus partitioning (Wenzek et al.
    2020 §4.4): score every document under the corpus LM
    (:func:`unigram_logprob`), then split the corpus at the given
    logprob percentiles — ``head`` is the most-fluent top slice the
    pipeline trains on first, ``tail`` the noisiest.  The canonical
    cutoffs are tertiles; pass e.g. ``(0.1, 0.5)`` for an asymmetric
    split.

    Cross-engine exactness: logprob_mean is the round-6 sorted-sum
    value (unigram_logprob's rule), the two thresholds are EXACT
    percentile_cont values computed by :func:`global_percentiles`
    (round 6), and bucket assignment compares ROUNDED value to
    ROUNDED threshold with ``>=`` — a doc sitting exactly on a cut
    buckets identically in Spark and DuckDB.

    Shape (100 TB): the LM learn/score stages shuffle hashed int64s
    and counts (never text); the percentile pass range-partitions the
    8-byte logprob column with driver rank offsets (no global sort
    task); the final bucket assignment is a LITERAL comparison — the
    two thresholds ride to executors as constants, not a join.  The
    scored (id, n_tokens, logprob_mean) table is localCheckpoint-ed
    once: it feeds BOTH the percentile pass and the output, and
    without pinning, Spark would re-run the whole LM explode/join
    over the corpus a second time (the pack_sequences trade — eager
    overhead at toy scale buys single-execution at 100 TB).
    Zero-token docs drop (unigram_logprob's contract).

    Output: (id, n_tokens int, logprob_mean double, bucket string).
    """
    if len(cutoffs) != 2:
        raise ValueError(
            f"cutoffs must be exactly (lo, hi), got {cutoffs!r}"
        )
    c_lo, c_hi = float(cutoffs[0]), float(cutoffs[1])
    if not (0.0 <= c_lo <= c_hi <= 1.0):
        raise ValueError(
            f"cutoffs must be ascending fractions in [0, 1], got {cutoffs}"
        )
    lp = unigram_logprob(df, id_col, text_col, freqs).localCheckpoint()
    th = {
        r["p"]: r["pct_value"]
        for r in global_percentiles(
            lp, "logprob_mean", (c_lo, c_hi), num_partitions
        ).collect()
    }
    if not th:  # empty corpus: nothing scored, nothing bucketed
        return lp.withColumn("bucket", F.lit("")).limit(0)
    t_lo, t_hi = th[c_lo], th[c_hi]
    return lp.withColumn(
        "bucket",
        F.when(F.col("logprob_mean") >= t_hi, "head")
        .when(F.col("logprob_mean") >= t_lo, "middle")
        .otherwise("tail"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping fixed-token windows — the
    pre-embedding chunking step of a retrieval/training pipeline
    (chunk k starts at word k·(chunk_tokens − overlap); the final
    chunk may be short).  Pure expressions: tokenize once, generate
    the start grid with ``sequence``, slice per chunk, one explode —
    no shuffle, no Python; the fan-out is ~n_words/(chunk−overlap)
    rows per doc, each carrying only its own slice.

    Zero-word documents drop (no chunks to emit — same contract as
    repetition_profile); NULL text is the empty document.

    Output: (id, chunk_idx, chunk_text, n_chunk_tokens).
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    step = chunk_tokens - overlap
    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(F.col(id_col).alias("_id"), ws.alias("_ws")).filter(
        F.size("_ws") > 0
    )
    # start grid caps at n - overlap - 1: a start beyond that yields a
    # tail chunk fully contained in its predecessor's overlap window
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("_ws") - overlap - 1, F.lit(0)),
        F.lit(step),
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.concat_ws(" ", F.slice(F.col("_ws"), s + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(F.size("_ws") - s, F.lit(chunk_tokens)).alias("n_chunk_tokens"),
        ),
    )
    return base.select("_id", F.explode(chunks).alias("_c")).select(
        F.col("_id").alias(id_col),
        F.col("_c.chunk_idx").alias("chunk_idx"),
        F.col("_c.chunk_text").alias("chunk_text"),
        F.col("_c.n_chunk_tokens").alias("n_chunk_tokens"),
    )


def group_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: list[float] | tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """EXACT per-group percentiles with linear interpolation (the
    percentile_cont / numpy-'linear' rule: h = (n−1)·p, interpolate
    between ranks ⌊h⌋ and ⌈h⌉) — the length/token distribution half of
    a corpus quality report.

    Why not Spark's ``percentile()`` aggregate: that aggregate buffers
    EVERY value of a group inside one executor's aggregation buffer —
    a 10⁹-document source OOMs the task.  This formulation ranks with
    a window instead: one hash Exchange + one Sort (sorts SPILL to
    disk, aggregate buffers don't), then keeps only the ≤2 boundary
    rows per (group, p) for a trivially small final groupBy.  The
    explode fans each ranked row ×|ps| before the boundary filter, but
    the fan-out is of 4-column scalar rows inside the same stage —
    never a shuffle of payloads.

    NULL values are excluded (the quantile_cont convention).  Output:
    (group_col, p, pct_value) long-form, pct_value rounded to 6 dp —
    bit-comparable with DuckDB ``quantile_cont`` because both engines
    run the same double arithmetic on the same two ranked values.

    For WHOLE-CORPUS percentiles do not call this with a constant
    group (one window task would sort everything) — use
    :func:`global_percentiles`, the range-partitioned formulation.
    """
    if not ps or any(not 0.0 <= p <= 1.0 for p in ps):
        raise ValueError(f"ps must be non-empty fractions in [0, 1], got {ps}")
    v = F.col(value_col).cast("double")
    ranked = (
        df.filter(v.isNotNull())
        .select(F.col(group_col).alias("_g"), v.alias("_v"))
        .withColumn("_rn", F.row_number().over(Window.partitionBy("_g").orderBy("_v")))
        .withColumn("_n", F.count("*").over(Window.partitionBy("_g")))
    )
    e = ranked.select(
        "*", F.explode(F.array(*[F.lit(float(p)) for p in sorted(set(ps))])).alias("p")
    )
    h = (F.col("_n") - 1).cast("double") * F.col("p")
    boundary = (
        e.withColumn("_h", h)
        .withColumn("_lo", F.floor(F.col("_h")).cast("long"))
        .withColumn("_hi", F.ceil(F.col("_h")).cast("long"))
        .filter((F.col("_rn") - 1 == F.col("_lo")) | (F.col("_rn") - 1 == F.col("_hi")))
    )
    agg = boundary.groupBy("_g", "p").agg(
        F.max(F.when(F.col("_rn") - 1 == F.col("_lo"), F.col("_v"))).alias("_vlo"),
        F.max(F.when(F.col("_rn") - 1 == F.col("_hi"), F.col("_v"))).alias("_vhi"),
        F.max(F.col("_h") - F.col("_lo")).alias("_frac"),
    )
    return agg.select(
        F.col("_g").alias(group_col),
        "p",
        F.round(
            F.col("_vlo") + F.col("_frac") * (F.col("_vhi") - F.col("_vlo")), 6
        ).alias("pct_value"),
    )


def global_percentiles(
    df: DataFrame,
    value_col: str,
    ps: list[float] | tuple[float, ...] = (0.5, 0.9, 0.99),
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT whole-corpus percentiles (percentile_cont rule) without a
    global sort task — the degenerate case :func:`group_percentiles`
    cannot serve at scale (a single group funnels the entire corpus
    through one window task's sort).

    Shape (pack_sequences' range-partition + driver-offset move):

    1. ``repartitionByRange`` on the value (8-byte rows — the only
       thing shuffled is the value column) + localCheckpoint to pin
       one range assignment (boundaries come from a sampling pass;
       re-evaluation could legally re-draw them).
    2. one tiny driver job collects per-partition COUNTS
       (``num_partitions`` longs); their prefix sums are exclusive
       rank offsets, and n is their total — so the boundary ranks
       ⌊(n−1)p⌋/⌈(n−1)p⌉ are computed driver-side in the same IEEE
       double arithmetic both engines use.
    3. per-partition ``row_number`` (each task sorts only its own
       range) + the broadcast offset gives every row its GLOBAL rank;
       a rank-isin filter keeps the ≤2·|ps| boundary rows, and a
       broadcast join against the driver's (p, lo, hi, frac) map
       interpolates.

    Ties across partition boundaries are safe: equal values may split
    between adjacent range partitions in arbitrary rank order, but
    any rank assignment among equal values yields the same percentile
    VALUE.  NULLs excluded (quantile_cont convention).  Output:
    (p, pct_value) rounded to 6 dp, matching DuckDB ``quantile_cont``.
    """
    import math

    if not ps or any(not 0.0 <= p <= 1.0 for p in ps):
        raise ValueError(f"ps must be non-empty fractions in [0, 1], got {ps}")
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    v = F.col(value_col).cast("double")
    ranged = (
        df.filter(v.isNotNull())
        .select(v.alias("_v"))
        .repartitionByRange(num_partitions, F.col("_v"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["_pid"]: r["c"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    n = sum(counts.values())
    out_schema = "p double, pct_value double"
    if n == 0:
        return spark.createDataFrame([], out_schema)
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    pmap = []
    for p in sorted(set(float(p) for p in ps)):
        h = (n - 1) * p  # IEEE double, the exact arithmetic both engines run
        lo, hi = math.floor(h), math.ceil(h)
        pmap.append((p, lo, hi, h - lo))
    boundary_ranks = sorted({r for _, lo, hi, _ in pmap for r in (lo, hi)})

    off_df = spark.createDataFrame(offsets, schema="_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("_v")
    hits = (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn("_grank", F.row_number().over(w) - 1 + F.col("_off"))
        .filter(F.col("_grank").isin(boundary_ranks))
        .select("_grank", "_v")
    )
    pmap_df = spark.createDataFrame(pmap, schema="p double, _lo long, _hi long, _frac double")
    lo_v = hits.select(F.col("_grank").alias("_lo"), F.col("_v").alias("_vlo"))
    hi_v = hits.select(F.col("_grank").alias("_hi"), F.col("_v").alias("_vhi"))
    return (
        pmap_df.join(F.broadcast(lo_v), "_lo")
        .join(F.broadcast(hi_v), "_hi")
        .select(
            "p",
            F.round(
                F.col("_vlo") + F.col("_frac") * (F.col("_vhi") - F.col("_vlo")), 6
            ).alias("pct_value"),
        )
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Top-k TF-IDF terms per document (sklearn's smoothed idf:
    ln((1+N)/(1+df)) + 1) — the classic relevance/keyword-extraction
    scoring a retrieval or labeling pipeline runs corpus-wide.

    Cross-engine determinism: ranking uses the ROUNDED score (6 dp)
    with the term string as tie-break, so the window order is exactly
    the values the oracle hashes — a sub-ULP ln() difference between
    libm and the JVM cannot flip a rank without first flipping a
    hashed value.  N (docs with ≥1 token) rides the plan as a
    broadcast 1-row aggregate, not a driver collect.

    Shape at scale: tokenize → tf groupBy(id, term) → df groupBy(term)
    → term-keyed join (skewed hot terms are AQE skew-join territory —
    the tf side carries (id, term, count) ints only) → one id-keyed
    window for top-k.  Whitespace tokens, case preserved (matching
    words()); zero-token docs yield no rows.
    """
    from ..functions.text import words

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    tok = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_row = tok.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_row))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log((1 + F.col("n_docs")).cast("double")
                          / (1 + F.col("df_t")))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df_t", "score", "rank")
    )


def inverted_index(
    df: DataFrame, id_col: str, text_col: str, min_df: int = 1
) -> DataFrame:
    """Term → posting-list index over a document corpus: one row per
    term with its document frequency and the sorted comma-joined doc
    ids — the retrieval-side artifact next to the ANN stack.

    One tokenize + per-doc distinct + ONE term shuffle; posting
    strings are built per term AFTER aggregation, so the shuffle
    carries (term, id) pairs, never text.  At real scale posting
    lists are the known heavy column (delta-encoded parquet in
    practice) — ``min_df`` also bounds the long tail of hapax terms.
    """
    from ..functions.text import words

    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    pairs = df.select(
        F.col(id_col), F.explode(F.array_distinct(words(F.col(text_col)))).alias("term")
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df_t"),
            # sort NUMERICALLY before casting — a string sort would
            # order "10" before "2" and diverge from the oracle's
            # ORDER BY doc_id
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.col(id_col))),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings"),
        )
        .filter(F.col("df_t") >= min_df)
    )


def cms_sketch(
    df: DataFrame, value_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over a value
    column — the bounded-memory frequency table a 100 TB pipeline
    keeps when the token/URL/domain cardinality is too large for an
    exact count table: depth×width int64 counters, one-sided error
    (estimate ≥ true, ≤ true + εN with ε = e/width at δ = e^-depth).

    The sketch is the ARTIFACT: a (row, bucket, cnt) DataFrame of at
    most depth·width rows, persistable like ``minhash_signatures``
    and MERGEABLE by plain per-cell summation (union two sketches →
    groupBy(row, bucket) sum — see ``cms_merge``), so per-crawl
    sketches accrete without re-reading text.  Row i's hash is
    md5(value ‖ '#' ‖ i) through the portable 60-bit slice, so DuckDB
    (and ``cms_query``) replay every cell bit-exactly — the whole
    operator is INTEGER arithmetic, no float caveat anywhere.

    NULL values are excluded.  Shuffle carries (row, bucket, partial
    count) ints via map-side combine; text never shuffles."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}x{width}")
    rows = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("string").alias("_v"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("_v"), F.lit("#"), F.col("row"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (
        rows.select("row", (h % width).cast("int").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge Count-Min sketches built with the SAME depth/width by
    per-cell summation — the accrete-per-crawl path."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_query(
    sketch: DataFrame,
    terms: DataFrame,
    term_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate lookup: for each term, min over the sketch's
    depth rows of its hashed cell — the one-sided frequency estimate
    (≥ true count, never under).  The probe side re-derives the same
    md5-row hashes; the sketch (≤ depth·width rows by construction)
    is BROADCAST to the join, and a missing cell counts 0.  Output:
    (term, cms_estimate) — all integer, bit-exact cross-engine."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}x{width}")
    probes = (
        terms.select(F.col(term_col).cast("string").alias("term"))
        .withColumn("row", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))))
        .withColumn("bucket", _cms_probe_hash("term", width))
    )
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left").fillna(
        {"cnt": 0}
    )
    return joined.groupBy("term").agg(F.min("cnt").alias("cms_estimate"))


def _cms_probe_hash(term_col: str, width: int):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(term_col), F.lit("#"), F.col("row"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % width
    ).cast("int")


def hll_alpha_m2_2r(p: int = 8) -> float:
    """α·m²·2^R for the portable HLL at precision p — ONE module-level
    source for the constant so the Spark plan and any SQL oracle
    inline the byte-identical double literal."""
    m = 1 << p
    r = 60 - p + 1
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    return alpha * (m * m) * float(1 << r)


def hll_cardinality(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """PORTABLE HyperLogLog (Flajolet et al. 2007) distinct-count
    estimate per group — the cardinality sketch a 100 TB corpus report
    runs instead of count(DISTINCT): registers are mergeable, the
    shuffle carries ≤ 2^p small ints per group, and no row set is ever
    materialized.

    Spark's own ``approx_count_distinct`` is a black-box HLL++ no
    other engine reproduces; this one is built from portable pieces so
    the DuckDB oracle replays it BIT-EXACTLY: md5-based
    ``portable_hash64`` (60 bits), bucket = low p bits, rho = leading
    zeros of the remaining W = 60-p bits via ``length(bin(w))`` (both
    engines' ``bin`` drops leading zeros), register = max rho, and the
    harmonic denominator stays in INTEGER arithmetic —
    S = Σ 2^(R - M_j) as int64 (R = W+1; max S = m·2^R < 2^63) — so
    the estimate is ONE literal division α·m²·2^R / S.  The
    small-range linear-counting branch (E ≤ 2.5m with empty buckets)
    is the only libm call (ln), absorbed by round 6.

    NULL values are excluded (count(DISTINCT) semantics); a group with
    no non-null values yields no row.  Standard error ≈ 1.04/√m
    (~6.5% at the default p=8 — raise p for tighter bounds; each +2
    quarters the variance and doubles the register shuffle).
    """
    from ..functions.text import portable_hash64

    if not 4 <= p <= 14:
        raise ValueError(f"p must be in 4..14, got {p}")
    group_cols = list(group_cols or [])
    m = 1 << p
    r = 60 - p + 1
    alpha_m2_2r = hll_alpha_m2_2r(p)

    h = portable_hash64(F.col(value_col))
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(r)).otherwise(
        F.lit(r) - F.length(F.bin(w))
    )
    regs = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, (h % m).alias("_bucket"), rho.alias("_rho"))
        .groupBy(*group_cols, "_bucket")
        .agg(F.max("_rho").alias("_M"))
    )
    agg = regs.groupBy(*group_cols).agg(
        # python-API shiftleft needs a literal shift; the SQL form
        # accepts a column expression
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {r} - _M)")).alias("_sp"),
        F.count(F.lit(1)).alias("_np"),
    )
    s = F.col("_sp") + (F.lit(m) - F.col("_np")) * F.lit(1 << r).cast("long")
    zeros = (F.lit(m) - F.col("_np")).cast("double")
    e_raw = F.lit(alpha_m2_2r) / s.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(e_raw)
    return agg.select(*group_cols, F.round(est, 6).alias("hll_estimate"))


def value_histogram(
    df: DataFrame, value_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Power-of-two histogram sketch over a non-negative integer value
    column — the bounded-memory, MERGEABLE quantile artifact next to
    the exact percentile operators (``group_percentiles`` /
    ``global_percentiles``): where those rank every row (one Exchange
    + one Sort over the data), this is ONE groupBy with map-side
    combine whose shuffle carries ≤ ~62 (group, bin, count) rows per
    task, and per-crawl histograms accrete by plain summation
    (``hist_merge``) without re-reading text — the cross-crawl
    length/token distribution report at 100 TB.

    Bin b covers [2^b − 1, 2^(b+1) − 2]: bin = bit_length(v + 1) − 1,
    computed as ``length(bin(v + 1)) − 1`` — both engines' ``bin()``
    drops leading zeros (the same trick as ``hll_cardinality``'s rho),
    so the sketch is INTEGER arithmetic end to end and replays
    bit-exactly in DuckDB.  Log-scale bins give constant relative
    error (est_hi < 2·est_lo + 1), the natural scale for length-ish
    distributions.

    NULL and negative values are excluded (documented: the operator
    targets counts/lengths; values must be < 2^61 so bin edges stay
    in int64).  Output: (*group_cols, bin int, bin_lo long, bin_hi
    long, cnt long), sparse — absent bins count 0."""
    group_cols = list(group_cols or [])
    v = F.col(value_col).cast("long")
    b = (F.length(F.bin(v + 1)) - 1).cast("int")
    return (
        df.filter(v.isNotNull() & (v >= 0))
        .select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *group_cols,
            "bin",
            (F.expr("shiftleft(CAST(1 AS BIGINT), bin)") - 1).alias("bin_lo"),
            (F.expr("shiftleft(CAST(1 AS BIGINT), bin + 1)") - 2).alias("bin_hi"),
            "cnt",
        )
    )


def hist_merge(*hists: DataFrame) -> DataFrame:
    """Merge histograms built by ``value_histogram`` over the same
    grouping by per-bin summation — the accrete-per-crawl path."""
    if not hists:
        raise ValueError("need at least one histogram")
    out = hists[0]
    for h in hists[1:]:
        out = out.unionByName(h)
    keys = [c for c in out.columns if c not in ("cnt",)]
    return (
        out.groupBy(*[k for k in keys if k not in ("bin_lo", "bin_hi")])
        .agg(
            F.min("bin_lo").alias("bin_lo"),
            F.min("bin_hi").alias("bin_hi"),
            F.sum("cnt").alias("cnt"),
        )
        .select(*keys, "cnt")
    )


def hist_quantiles(
    hist: DataFrame,
    qs: list[tuple[int, int]],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile envelopes from a ``value_histogram`` sketch: for each
    group and rational quantile q = num/den, the bin holding the
    ⌈q·n⌉-th smallest value (1-indexed order statistic, the
    quantile-disc rule) — so the true quantile is GUARANTEED inside
    [est_lo, est_hi], a ≤2× relative envelope from the log-scale bins.

    Quantiles are RATIONAL pairs, and the rank is
    ⌊(n·num + den − 1) / den⌋ (integer ceiling) — no float touches the
    computation anywhere, which is what lets a gate oracle replay a
    quantile *sketch* bit-exactly.  Runs entirely on the tiny sketch:
    a per-group running sum over ≤ ~62 bins, then min-bin-covering-rank
    per (group, q).

    Output: (*group_cols, q_num int, q_den int, n long, rank long,
    est_lo long, est_hi long)."""
    group_cols = list(group_cols or [])
    for num, den in qs:
        if not (isinstance(num, int) and isinstance(den, int) and 0 < num <= den):
            raise ValueError(f"quantiles must be int pairs 0 < num <= den, got {qs}")
    w = Window.partitionBy(*group_cols).orderBy("bin") if group_cols else (
        Window.partitionBy().orderBy("bin")
    )
    cum = hist.select(
        *group_cols,
        "bin",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_cum"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    e = cum.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(num).alias("q_num"), F.lit(den).alias("q_den")
                    )
                    for num, den in sorted(set(qs))
                ]
            )
        ).alias("_q"),
    ).select(*group_cols, "bin", "_cum", "n", "_q.q_num", "_q.q_den")
    rank = F.floor(
        (F.col("n") * F.col("q_num") + F.col("q_den") - 1) / F.col("q_den")
    ).cast("long")
    hit = e.withColumn("rank", rank).filter(F.col("_cum") >= F.col("rank"))
    agg = hit.groupBy(*group_cols, "q_num", "q_den").agg(
        F.min("bin").alias("_bin"),
        F.max("n").alias("n"),
        F.max("rank").alias("rank"),
    )
    return agg.select(
        *group_cols,
        "q_num",
        "q_den",
        "n",
        "rank",
        (F.expr("shiftleft(CAST(1 AS BIGINT), _bin)") - 1).alias("est_lo"),
        (F.expr("shiftleft(CAST(1 AS BIGINT), _bin + 1)") - 2).alias("est_hi"),
    )


def text_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass per-document profile: the operator queries() exposes."""
    return with_signals(df, text_col, PROFILE_SIGNALS).select(id_col, *PROFILE_SIGNALS)


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits)
    — the diversity-for-length quality signal complementing
    :func:`repetition_profile`'s Gopher ratios: templated or looping
    text scores low for its length, fluent prose sits in the corpus
    band, random token soup approaches ``log2(n_tokens)``.  Threshold
    low-entropy-for-length docs out, or feed the column to curation
    composites alongside quality_score.

    Cross-engine exactness: ``H = log2(n) - (sum_t c_t*log2(c_t))/n``
    with each ``c*log2(c)`` term rounded to 6 dp FIRST, then summed in
    token-hash-sorted order (unigram_logprob's sorted-sum rule;
    after the count groupBy, token hashes are UNIQUE per document, so
    the sort order is total and both engines add identical doubles in
    an identical order).  ``c = 1`` contributes exactly ``0.0`` on
    both engines; a doc of n copies of one token scores exactly 0.

    Shape: one tokenize, one explode of HASHED tokens (8-byte rows —
    text never shuffles), groupBy (id, hash) with map-side partial
    aggregation collapsing hot tokens before the shuffle, then a
    groupBy id whose rows carry one (hash, double) struct per DISTINCT
    token.  Zero-token docs drop (explode of an empty array — keep
    them with a caller-side left join, the repetition_profile
    contract).

    Output: (id, n_tokens int, distinct_tokens int, entropy_bits
    double).
    """
    counts = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.transform(words(F.col(text_col)), portable_hash64)
            ).alias("th"),
        )
        .groupBy("_id", "th")
        .agg(F.count("*").cast("long").alias("c"))
    )
    term = F.round(
        F.col("c").cast("double") * F.log2(F.col("c").cast("double")), 6
    )
    agg = counts.groupBy("_id").agg(
        F.sum("c").cast("long").alias("_n"),
        F.count("*").cast("int").alias("distinct_tokens"),
        F.array_sort(
            F.collect_list(F.struct(F.col("th"), term.alias("t")))
        ).alias("_tt"),
    )
    sum_t = F.aggregate(F.col("_tt"), F.lit(0.0), lambda acc, s: acc + s["t"])
    return agg.select(
        F.col("_id").alias(id_col),
        F.col("_n").cast("int").alias("n_tokens"),
        "distinct_tokens",
        F.round(
            F.log2(F.col("_n").cast("double"))
            - sum_t / F.col("_n").cast("double"),
            6,
        ).alias("entropy_bits"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm, over word k-grams): slide a window of
    ``w`` consecutive k-gram hashes and keep each window's minimum,
    rightmost occurrence on ties.  The winnowing guarantee: any two
    documents sharing a run of >= w+k-1 words share at least one
    fingerprint — a LOCAL fingerprint set (unlike minhash's global
    one) sized ~2/(w+1) of the gram stream, the standard
    plagiarism / local-overlap index.

    Cross-engine exactness: the per-window argmin is ONE struct-min
    ``min(struct(h, -pos))`` over a ROWS frame — (hash asc, pos desc)
    lexicographic order bakes the rightmost-tie rule into the
    aggregate, so no nested window functions; selections dedup to
    DISTINCT (id, pos, fp).  All integer arithmetic.

    Shape (100 TB): one tokenize + one gram explode of (id, pos,
    hash) — 16-byte rows, text never shuffles — then ONE
    Exchange(id) + ONE Sort(pos) shared by the count-guard and the
    struct-min window, then a distinct that reuses the same hash
    partitioning.  Docs with < w+k-1 words emit nothing (no full
    window exists — the winnowing boundary condition).

    Output: (id, pos int, fp long) — pos is the 0-based word position
    of the selected k-gram.
    """
    if k < 1 or w < 1:
        raise ValueError(f"need k >= 1 and w >= 1, got k={k} w={w}")
    grams = ngrams_of_words(words(F.col(text_col)), k)
    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.transform(grams, portable_hash64)).alias("_pos", "_h"),
    )
    frame = (
        Window.partitionBy("_id")
        .orderBy("_pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = hashed.select(
        "_id",
        F.count("*").over(frame).alias("_cnt"),
        F.min(F.struct(F.col("_h").alias("h"), (-F.col("_pos")).alias("np")))
        .over(frame)
        .alias("_m"),
    ).filter(F.col("_cnt") == w)
    return (
        sel.select(
            F.col("_id").alias(id_col),
            (-F.col("_m.np")).cast("int").alias("pos"),
            F.col("_m.h").alias("fp"),
        )
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """MOSS's pair report over :func:`winnow_fingerprints`: document
    pairs sharing >= ``min_shared`` fingerprints — local-overlap
    candidates (shared runs, quoted passages) that global signatures
    dilute away on long documents.  By the winnowing guarantee, a
    shared run of >= w+k-1 words yields >= 1 shared fingerprint, so
    ``min_shared`` scales with how much shared text you require.

    ``max_df`` drops fingerprints present in more than that many
    docs BEFORE pairing — the boilerplate guard: a corpus-common
    fingerprint (navigation chrome, licence text) would otherwise
    emit ~df²/2 pairs (the remove_boilerplate rationale applied to
    the pair generator).  None disables the guard; the count of
    dropped fingerprints is not silent — it rides the plan as a
    filter on an exact df column callers can audit.

    Shape (100 TB): fingerprint table (id, fp) is 16-byte rows; dedup
    to distinct fp per doc, df filter, then a self-equi-join on fp
    whose fan-out per fp is df(fp) <= max_df by construction, and a
    (id_a, id_b) groupBy with map-side combine.

    Output: (id_a, id_b, shared_fps long) with id_a < id_b.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_df is not None and max_df < 2:
        raise ValueError(f"max_df must be >= 2 (pairs need 2), got {max_df}")
    fps = (
        winnow_fingerprints(df, id_col, text_col, k=k, w=w)
        .select(F.col(id_col).alias("_id"), "fp")
        .distinct()
    )
    if max_df is not None:
        dfreq = fps.groupBy("fp").agg(F.count("*").cast("long").alias("_df"))
        fps = fps.join(
            dfreq.filter(F.col("_df") <= max_df).select("fp"), "fp"
        )
    a = fps.select(F.col("_id").alias("id_a"), "fp")
    b = fps.select(F.col("_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def mixing_weights(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    budget: int | None = None,
) -> DataFrame:
    """α-temperature data-mixing weights (the T5/mT5/LLaMA-family
    sampling rule: w_g ∝ n_g^α) — α=1 is natural proportions, α=0 is
    uniform, the 0.2-0.7 band upsamples small sources / languages so
    the big ones don't drown them.  With ``budget``, also emits the
    integer per-group row quota (``expected_rows``) a sampler like
    :func:`sample_mix` consumes.

    Cross-engine exactness: per-group ``s_g = round(n_g^α, 6)``; the
    normalizer is a sorted fold over (group-key, s) structs — groups
    are few, so all s values ride one array, added in a total order on
    both engines (the sorted-sum rule); ``weight = round(s/Σs, 6)``
    and ``expected_rows = floor(weight·budget + 0.5)`` (half-up on
    identical doubles — never a bare engine-default round).

    Shape: ONE groupBy(group) count with map-side combine; everything
    downstream operates on the per-group table, whose cardinality is
    driver-bounded by the operator's purpose (sources / languages /
    domains — if your group key has millions of values, you wanted a
    sampler, not mixing weights).  NULL group keys form their own
    group (sort key coalesces to '' for the fold order).

    Output: (group_col, n_rows bigint, weight double[, expected_rows
    bigint]).
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if budget is not None and budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    counts = df.groupBy(F.col(group_col).alias("_grp")).agg(
        F.count("*").cast("long").alias("n_rows")
    )
    scored = counts.withColumn(
        "_s",
        F.round(F.pow(F.col("n_rows").cast("double"), F.lit(float(alpha))), 6),
    )
    tot = scored.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.coalesce(F.col("_grp").cast("string"), F.lit("")).alias(
                        "k"
                    ),
                    F.col("_s").alias("s"),
                )
            )
        ).alias("_a")
    ).select(
        F.aggregate(
            F.col("_a"), F.lit(0.0), lambda acc, x: acc + x["s"]
        ).alias("_tot")
    )
    w = F.round(F.col("_s") / F.col("_tot"), 6)
    out = scored.crossJoin(F.broadcast(tot)).select(
        F.col("_grp").alias(group_col),
        "n_rows",
        w.alias("weight"),
    )
    if budget is not None:
        out = out.withColumn(
            "expected_rows",
            F.floor(F.col("weight") * F.lit(int(budget)) + F.lit(0.5)).cast(
                "long"
            ),
        )
    return out


def quality_gate(df: DataFrame, id_col: str, text_col: str, **thresholds) -> DataFrame:
    """:func:`with_quality_gate`'s columns keyed by id, one row per input row."""
    return with_quality_gate(df, text_col, **thresholds).select(
        id_col, *GATE_SIGNALS, "fail_mask", "passes"
    )


def with_quality_gate(
    df: DataFrame,
    text_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stop_ratio: float = 0.0,
    max_word_len: int = 50,
    max_dup_word_frac: float = 1.0,
    min_alpha_ratio: float = 0.0,
) -> DataFrame:
    """Gopher/FineWeb-family composite quality filter: the standard
    rule battery a training-data pipeline runs FIRST (Rae et al. 2021
    table A1; FineWeb's "quality filtering" stage), with each rule's
    verdict recorded as a bit in ``fail_mask`` so downstream jobs can
    select on *why* a doc failed, not just that it did.  Defaults
    disable the optional rules (stop-ratio / dup-frac / alpha floors
    at their vacuous bounds) — callers opt in per corpus.

    Signals, all per-document:

    - ``n_words``        whitespace tokens (bits 1/2: outside
      [min_words, max_words])
    - ``mean_word_len``  word char mass / n_words — characters INSIDE
      words, not counting separators (bit 4: outside [min, max])
    - ``stop_ratio``     EN_STOPWORDS hits / n_words (bit 8: below
      floor — the Gopher "≥2 stop words" rule generalized)
    - ``max_word_len``   longest token (bit 16: above cap — the
      minified-JS / base64-blob tell)
    - ``dup_word_frac``  (n_words - distinct words) / n_words (bit 32:
      above cap — the cheap within-doc repetition rule; the full
      n-gram battery is :func:`repetition_profile`)
    - ``alpha_ratio``    [A-Za-z ] char share (bit 64: below floor —
      symbol soup / binary spill)

    Cross-engine exactness: every ratio is ONE division of two exact
    integers (bit-identical IEEE on both engines), rounded to 6 dp,
    and every threshold compares against the ROUNDED value — so a
    doc sitting exactly on a threshold gates identically in Spark,
    DuckDB, and python.  Zero-token (NULL/empty) docs keep a row:
    ratios are 0 by convention and the word-count floor owns the
    verdict (no /0 under ANSI — denominators are greatest(n, 1)).

    Shape (100 TB): row-local over the text scan — zero shuffle,
    zero Python, whole-stage codegen end-to-end; array ops are linear
    per doc (array_distinct is hash-based, no quadratic HOF).  The
    signals are :func:`with_signals`' fenced :data:`GATE_SIGNALS`
    (module docstring); ``fail_mask`` and ``passes`` project over them,
    so ``.filter("passes")`` compares computed columns.

    Adds to ``df``: n_words int, mean_word_len double, stop_ratio
    double, max_word_len int, dup_word_frac double, alpha_ratio
    double, fail_mask int, passes boolean.
    """
    if min_words < 0 or max_words < min_words:
        raise ValueError(
            f"need 0 <= min_words <= max_words, got {min_words}/{max_words}"
        )
    if max_mean_word_len < min_mean_word_len:
        raise ValueError(
            "need min_mean_word_len <= max_mean_word_len, got "
            f"{min_mean_word_len}/{max_mean_word_len}"
        )
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    base = with_signals(df, text_col, GATE_SIGNALS)
    mask = (
        F.when(F.col("n_words") < min_words, GATE_TOO_FEW_WORDS).otherwise(0)
        + F.when(F.col("n_words") > max_words, GATE_TOO_MANY_WORDS).otherwise(0)
        + F.when(
            (F.col("mean_word_len") < min_mean_word_len)
            | (F.col("mean_word_len") > max_mean_word_len),
            GATE_MEAN_WORD_LEN,
        ).otherwise(0)
        + F.when(F.col("stop_ratio") < min_stop_ratio, GATE_STOPWORDS).otherwise(0)
        + F.when(F.col("max_word_len") > max_word_len, GATE_MAX_WORD_LEN).otherwise(0)
        + F.when(
            F.col("dup_word_frac") > max_dup_word_frac, GATE_DUP_WORDS
        ).otherwise(0)
        + F.when(F.col("alpha_ratio") < min_alpha_ratio, GATE_ALPHA).otherwise(0)
    )
    return base.withColumn("fail_mask", mask.cast("int")).withColumn(
        "passes", F.col("fail_mask") == 0
    )


def bigram_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus bigram counts keyed by HASHED (prefix, pair): ``(h1:
    bigint, h12: bigint, cnt: bigint)`` with ``h1 =
    portable_hash64(w1)`` and ``h12 = portable_hash64(w1 || ' ' ||
    w2)``.  This ONE table is the whole order-2 model artifact
    :func:`bigram_logprob` consumes: prefix totals (``c1 = sum(cnt)
    group by h1``) and the grand total derive from it, so conditional
    probabilities ``P(w2|w1) = c12/c1`` are self-consistent by
    construction (``c1`` counts w1 *as a bigram prefix*, not raw
    unigram occurrences — the distinction only matters at document
    tails and keeps the model a single persistable table, the
    remove_boilerplate ``grams=`` / unigram ``freqs=`` story).

    One tokenize (materialized once into a column — no re-tokenize
    per reference), one explode, one groupBy shuffle of 16-byte keys;
    documents with < 2 tokens contribute nothing (the pair array is
    NULL and explode drops it).
    """
    base = df.select(words(F.col(text_col)).alias("_ws"))
    ws = F.col("_ws")
    pair = F.explode(
        F.when(
            F.size(ws) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - 1),
                lambda i: F.struct(
                    portable_hash64(F.element_at(ws, i)).alias("h1"),
                    portable_hash64(
                        F.concat(
                            F.element_at(ws, i),
                            F.lit(" "),
                            F.element_at(ws, i + 1),
                        )
                    ).alias("h12"),
                ),
            ),
        )
    ).alias("_p")
    return (
        base.select(pair)
        .select(F.col("_p.h1").alias("h1"), F.col("_p.h12").alias("h12"))
        .groupBy("h1", "h12")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame | None = None,
) -> DataFrame:
    """CCNet-family order-2 LM quality score: per document, the mean
    conditional log-probability of its adjacent token pairs under a
    corpus bigram model (Wenzek et al. 2020 filter with a 5-gram
    KenLM; this is the same filter family one order up from
    :func:`unigram_logprob`, with an exactly-replayable model).
    Fluent text chains common bigrams and scores high; shuffled or
    machine-mangled text with plausible unigrams but improbable
    transitions — which the unigram score cannot see — scores low.

    ``model``: optional precomputed :func:`bigram_frequencies` table
    (learn once per snapshot, persist, score any table — including
    held-out text full of unseen pairs); ``None`` learns it inline
    from ``df`` (second text scan, documented).

    Per-pair backoff ladder (every branch exactly replayable):
    pair seen → ``ln(c12/c1)``; prefix seen, pair unseen →
    ``ln(0.5/c1)``; prefix unseen → ``ln(0.5/total)``.  Each logprob
    is rounded to 6 dp FIRST, then summed in (h1, h12)-sorted order
    (equal keys ⇒ equal values under a fixed model, so ties commute
    — the unigram sorted-sum rule).

    Shape: tokenize once into a column, explode (h1, h12) pairs —
    16-byte rows, text never shuffles — LEFT JOIN the model on (h1,
    h12), LEFT JOIN derived prefix totals on h1, groupBy doc.  The
    scoring joins are the hot-key stage (a stopword prefix is a big
    share of any corpus) — the AQE skew-join shape, same note as
    unigram_logprob.  Documents with < 2 tokens drop.

    Output: (id, n_bigrams int, logprob_mean double).
    """
    base = df.select(
        F.col(id_col).alias("_id"), words(F.col(text_col)).alias("_ws")
    )
    ws = F.col("_ws")
    toks = base.select(
        "_id",
        F.explode(
            F.when(
                F.size(ws) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(ws) - 1),
                    lambda i: F.struct(
                        portable_hash64(F.element_at(ws, i)).alias("h1"),
                        portable_hash64(
                            F.concat(
                                F.element_at(ws, i),
                                F.lit(" "),
                                F.element_at(ws, i + 1),
                            )
                        ).alias("h12"),
                    ),
                ),
            )
        ).alias("_p"),
    ).select("_id", F.col("_p.h1").alias("h1"), F.col("_p.h12").alias("h12"))
    if model is None:
        model = bigram_frequencies(df, text_col)
    total = model.agg(F.sum("cnt")).collect()[0][0] or 0
    spark = df.sparkSession
    if total == 0:
        # id field type mirrors the input (ADVICE r05: a hardcoded
        # 'long' diverged from the non-empty path for string ids,
        # breaking downstream unions/joins)
        id_type = df.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"{id_col} {id_type}, n_bigrams int, logprob_mean double"
        )
    prefixes = model.groupBy("h1").agg(F.sum("cnt").cast("long").alias("c1"))
    scored = (
        toks.join(model.withColumnRenamed("cnt", "c12"), ["h1", "h12"], "left")
        .join(prefixes, "h1", "left")
        .select(
            "_id",
            "h1",
            "h12",
            F.when(
                F.col("c12").isNotNull(),
                F.round(
                    F.log(
                        F.col("c12").cast("double") / F.col("c1").cast("double")
                    ),
                    6,
                ),
            )
            .when(
                F.col("c1").isNotNull(),
                F.round(F.log(F.lit(0.5) / F.col("c1").cast("double")), 6),
            )
            .otherwise(F.round(F.log(F.lit(0.5) / F.lit(float(total))), 6))
            .alias("lp"),
        )
    )
    agg = scored.groupBy("_id").agg(
        F.count("*").cast("int").alias("n_bigrams"),
        F.array_sort(F.collect_list(F.struct("h1", "h12", "lp"))).alias("_tl"),
    )
    sum_lp = F.aggregate(F.col("_tl"), F.lit(0.0), lambda acc, s: acc + s["lp"])
    return agg.select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        F.round(sum_lp / F.col("n_bigrams"), 6).cast("double").alias(
            "logprob_mean"
        ),
    )


def pmi_bigrams(
    df: DataFrame, text_col: str, min_count: int = 5, k: int = 20
) -> DataFrame:
    """Top-k collocations by pointwise mutual information: ``PMI(w1,
    w2) = ln(c12·total / (c1·c2))`` over adjacent token pairs — the
    corpus-analysis signal that separates genuine multi-word units
    ("new york") from frequent-but-independent pairs, and a
    tokenizer-merge / phrase-mining input in a training-data pipeline.

    Counting convention matches :func:`bigram_frequencies`: ``c1`` /
    ``c2`` are the word's totals *as a bigram prefix / suffix* (both
    derive from the pair table itself), so probabilities are
    self-consistent by construction.  ``min_count`` floors ``c12`` —
    PMI's known pathology is hapax pairs of hapax words scoring
    maximal, so an unfloored top-k is all noise.

    Cross-engine exactness: the ratio is computed in doubles as
    ``(c12·total) / (c1·c2)`` (products of exact integer-valued
    doubles), one ``ln``, round 6; ranking uses the ROUNDED value
    with the (w1, w2) byte-order tie-break, so a sub-ULP libm/JVM
    ``ln`` difference cannot flip a rank without first flipping a
    hashed value (the tfidf_top_terms rule).

    Shape: one tokenize, one explode of (w1, w2) token pairs (short
    strings — the one operator family whose output IS words, so words
    ride this shuffle by design), pair groupBy, two derived totals
    joined back on their word key (hot stopword keys are AQE
    skew-join territory), broadcast 1-row total, global top-k via
    orderBy+limit (driver-bounded by ``k``).

    Output: (w1, w2, c12, c1, c2, pmi) — ``k`` rows.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = df.select(words(F.col(text_col)).alias("_ws"))
    ws = F.col("_ws")
    pairs = base.select(
        F.explode(
            F.when(
                F.size(ws) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(ws) - 1),
                    lambda i: F.struct(
                        F.element_at(ws, i).alias("w1"),
                        F.element_at(ws, i + 1).alias("w2"),
                    ),
                ),
            )
        ).alias("_p")
    ).select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    c2 = c12.groupBy("w2").agg(F.sum("c12").cast("long").alias("c2"))
    tot = c12.agg(F.sum("c12").cast("double").alias("_total"))
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") * F.col("_total"))
            / (F.col("c1").cast("double") * F.col("c2").cast("double"))
        ),
        6,
    )
    return (
        c12.filter(F.col("c12") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", "c1", "c2", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


def bpe_merge_candidates(
    df: DataFrame, text_col: str, min_count: int = 2, k: int = 20
) -> DataFrame:
    """Top-k adjacent character-pair counts over the corpus — the
    candidate table of ONE BPE merge step (Sennrich et al. 2016): the
    pair a tokenizer trained on this corpus would merge first, and
    the corpus-level signal a vocabulary-fit audit reads.  Pair
    occurrences are counted per word occurrence (a word appearing
    1000× contributes its pairs 1000×), with repeated pairs inside a
    word each counted ("aaa" → (a,a) twice) — the reference BPE
    convention.

    Cross-engine exactness: counts are exact integers end-to-end;
    ranking is (pair_count desc, lhs, rhs) byte order — a total
    order, so the top-k row SET is deterministic.

    Shape (100 TB): word frequencies first (one groupBy with map-side
    combine collapsing hot words before the shuffle), then pairs are
    generated from the DISTINCT-word table — the 100 TB text column
    is scanned once and the pair explode runs over the vocabulary,
    not the corpus; the final (lhs, rhs) groupBy shuffles 2-char keys
    with partial aggregation.  Top-k is driver-bounded by ``k``.

    Output: (lhs, rhs, pair_count) — ``k`` rows.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    wf = (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = F.col("w")
    pairs = wf.select(
        "cnt",
        F.explode(
            F.when(
                F.length(w) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length(w) - 1),
                    lambda i: F.struct(
                        w.substr(i, F.lit(1)).alias("lhs"),
                        w.substr(i + F.lit(1), F.lit(1)).alias("rhs"),
                    ),
                ),
            )
        ).alias("_p"),
    ).select(F.col("_p.lhs").alias("lhs"), F.col("_p.rhs").alias("rhs"), "cnt")
    return (
        pairs.groupBy("lhs", "rhs")
        .agg(F.sum("cnt").cast("long").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
        .orderBy(F.desc("pair_count"), "lhs", "rhs")
        .limit(k)
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval (Robertson-Walker-Jones family,
    Lucene's non-negative idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``)
    — the lexical-retrieval baseline beside the ANN stack, and the
    sparse half of a hybrid retriever.  Duplicate query tokens count
    once (set semantics — the common web-search convention; qtf
    weighting is a caller-side extension).

    Cross-engine exactness: per-(query, doc, term) partial scores are
    rounded to 6 dp FIRST, summed in term-hash-sorted order (terms
    are unique per (query, doc) pair after the tf groupBy, so the
    order is total), the sum rounded again, and ranking uses the
    ROUNDED score with the doc-id tie-break — the tfidf_top_terms
    determinism rule.  ``avgdl`` is ``sum(dl)/N`` computed in doubles
    on both engines; ``k1``/``b`` arithmetic keeps the exact
    expression shape (``k1 + 1``, ``1 - b + b·dl/avgdl``) so the same
    IEEE ops run on both sides.

    Shape at scale — the query side never forces a corpus shuffle:
    doc tf is ONE groupBy with dl riding the key (functionally
    dependent on id, so no extra groups and no doclen join); the
    corpus term-frequency table joins a BROADCAST of the exploded
    query terms, producing a tiny (query, term, df_t) table that is
    itself broadcast into the tf join — the posting-list intersection
    is two broadcast hash joins, never a sort-merge on the corpus
    side.  Corpus stats (N, avgdl) ride as a broadcast 1-row
    aggregate.  Zero-token docs and zero-token queries contribute
    nothing; a query whose terms all miss the corpus yields no rows.

    Output: (query_id, <id_col>, n_terms int, score double, rank
    int) — up to ``k`` rows per query.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k1 < 0 or b < 0 or b > 1:
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1}, b={b}")
    base = df.filter(F.col(text_col).rlike(r"\S")).select(
        F.col(id_col).alias("_id"), words(F.col(text_col)).alias("_ws")
    )
    # explode_outer: no inferred size(_ws) > 0 re-tokenizing in the scan
    # filter (the containment_pairs fence); rlike keeps _ws non-empty
    toks = base.select(
        "_id", F.size("_ws").alias("_dl"), F.explode_outer("_ws").alias("term")
    )
    tf = toks.groupBy("_id", "_dl", "term").agg(
        F.count("*").cast("long").alias("_tf")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("_df"))
    stats = base.agg(
        F.count("*").cast("long").alias("_n_docs"),
        (
            F.sum(F.size("_ws")).cast("double")
            / F.count("*").cast("double")
        ).alias("_avgdl"),
    )
    qterms = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.explode(F.array_distinct(words(F.col(query_text_col)))).alias("term"),
    )
    qinfo = dfreq.join(F.broadcast(qterms), "term")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs").cast("double") - F.col("_df").cast("double") + 0.5)
        / (F.col("_df").cast("double") + 0.5)
    )
    tfc = (F.col("_tf").cast("double") * (F.lit(k1) + F.lit(1.0))) / (
        F.col("_tf").cast("double")
        + F.lit(k1)
        * (
            F.lit(1.0)
            - F.lit(b)
            + F.lit(b) * F.col("_dl").cast("double") / F.col("_avgdl")
        )
    )
    scored = (
        tf.join(F.broadcast(qinfo), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "_qid",
            "_id",
            portable_hash64(F.col("term")).alias("_th"),
            F.round(idf * tfc, 6).alias("_s"),
        )
    )
    agg = scored.groupBy("_qid", "_id").agg(
        F.count("*").cast("int").alias("n_terms"),
        F.array_sort(F.collect_list(F.struct("_th", "_s"))).alias("_tl"),
    )
    sum_s = F.aggregate(F.col("_tl"), F.lit(0.0), lambda acc, s: acc + s["_s"])
    ranked = agg.select(
        F.col("_qid").alias(query_id_col),
        F.col("_id").alias(id_col),
        "n_terms",
        F.round(sum_s, 6).cast("double").alias("score"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(query_id_col).orderBy(
                F.desc("score"), F.asc(id_col)
            )
        ),
    )
    return ranked.filter(F.col("rank") <= k)


def shuffle_corpus(
    df: DataFrame,
    id_col: str,
    salt: str = "shuffle-v1",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global training-order shuffle: assign every row a
    unique position 1..N in a pseudo-random but fully reproducible
    order — the "shuffle the corpus before sequence packing" step of
    a training pipeline, with the sample_mix determinism story: no
    RNG, the same corpus yields the same order on every engine, run,
    and cluster size (change ``salt`` to draw a fresh permutation).
    Order key = ``(portable_hash64(salt‖id), id)`` — the id tiebreak
    makes the order total even under hash collisions.

    Shape (global_percentiles' range-partition + driver-offset move —
    NO single-task global sort): only (id, ticket) rows ride the
    range shuffle (payloads stay put; join the result back on id),
    ``localCheckpoint`` pins one boundary draw, a tiny driver job
    collects ``num_partitions`` per-partition counts whose prefix
    sums are exclusive rank offsets, and a per-partition row_number
    (each task sorts only its own range) plus the broadcast offset is
    the GLOBAL position.

    Output: (id, shuffle_pos long) — a permutation of 1..N.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    ticket = portable_hash64(
        F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))
    )
    ranged = (
        df.select(F.col(id_col).alias("_id"), ticket.alias("_t"))
        .repartitionByRange(num_partitions, F.col("_t"), F.col("_id"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["_pid"]: r["c"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if not offsets:
        id_type = df.schema[id_col].dataType.simpleString()
        return spark.createDataFrame([], f"{id_col} {id_type}, shuffle_pos long")
    off_df = spark.createDataFrame(offsets, schema="_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("_t", "_id")
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(
            "shuffle_pos",
            (F.row_number().over(w).cast("long") + F.col("_off")),
        )
        .select(F.col("_id").alias(id_col), "shuffle_pos")
    )
