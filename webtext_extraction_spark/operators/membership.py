"""Portable Bloom-filter membership sketch + bloom-gated benchmark
decontamination.

The 100 TB story: ``decontaminate`` (operators/contamination.py)
broadcasts the benchmark's DISTINCT gram-hash set — fine for the
~10^5-10^6 grams of a real eval suite, but the same shape appears with
much bigger "reference sets" (a previous crawl's URL frontier, a
blocklist of known-plagiarized passages, a licensed-content corpus)
where the distinct set is 10^9+ keys and the broadcast stops fitting.
A Bloom filter (Bloom 1970) is the standard fix: ``m_words`` int64
words — a few MB regardless of the reference-set size — broadcast to
every executor, answering "definitely absent / maybe present" with a
tunable false-positive rate.  The 100 TB side streams through ONE
projection against the broadcast bitmap; only the tiny maybe-present
slice goes on to exact verification, so the expensive equi-join runs
on ~FP·|corpus grams| rows instead of all of them.

Spark ships a Bloom filter (``DataFrame.stat.bloomFilter`` and the
AQE runtime filter), but both are driver-side black boxes over
xxhash/murmur — no other engine reproduces their bit patterns, and the
sketch is not a DataFrame you can persist/merge/inspect.  This one is
built from portable pieces, like the engine's CMS/HLL siblings
(textstats.py): every bit position derives from md5 via the
Kirsch-Mitzenmacher double-hashing scheme (h1 + i*h2, "Less hashing,
same performance", 2006), so DuckDB replays the WHOLE bitmap and every
probe bit-exactly — a probabilistic structure with a deterministic
oracle.  The sketch is the ARTIFACT: a (word_idx, word) DataFrame of
at most ``m_words`` rows, persistable like ``minhash_signatures`` and
mergeable by plain per-word ``bit_or`` (same m_words/k required).

Arithmetic contract (what keeps the oracle bit-exact):

- h1 = first 15 md5 hex digits as int64, h2 = hex digits 16..30 —
  two independent 60-bit coordinates from ONE md5 per value (the
  round-5 "one md5, several hash coordinates" rule).
- bit_i = (h1 + i*h2) % m_bits for i in 0..k-1.  h1,h2 < 2^60 and
  k <= 7 keeps the sum < 2^63: DuckDB ERRORS on int64 overflow while
  Spark wraps silently, so the bound is load-bearing (same reason
  MinHash arithmetic stays < 2^52).
- 63 bits per word (bit 63 never set) so ``1 << pos`` stays positive
  int64 in both engines — no sign-bit edge case.

Reference repo: no analogue (the reference fetches pages one URL at a
time); this is one of the engine-added corpus operators the brief
asks for beyond the reference surface, alongside dedup/ and
contamination.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from webtext_extraction_spark.functions.text import (
    ngrams_of_words,
    portable_hash64,
    words,
)

BITS_PER_WORD = 63
MAX_K = 7  # h1 + (k-1)*h2 < 2^63 needs k-1 <= 6 (see module docstring)


def _check_params(m_words: int, k: int) -> None:
    if m_words < 1:
        raise ValueError(f"m_words must be >= 1, got {m_words}")
    if not 1 <= k <= MAX_K:
        raise ValueError(
            f"k must be in 1..{MAX_K} (int64-overflow bound shared with the "
            f"DuckDB oracle), got {k}"
        )


def _h1(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _h2(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 16, 15), 16, 10).cast("bigint")


def _probe_rows(df: DataFrame, value_expr: Column, m_words: int, k: int, *carry: str):
    """One row per (carried cols, i in 0..k-1) with the bit coordinates
    (word_idx, pos) of probe i — shared by build and probe so the two
    sides cannot drift.  ONE md5 per value: h1/h2 are disjoint digest
    substrings, and Catalyst collapses the two substring() calls onto
    a single common md5 subexpression."""
    m_bits = m_words * BITS_PER_WORD
    base = df.select(*carry, value_expr.alias("_v")).filter(F.col("_v").isNotNull())
    probes = base.select(
        *carry,
        "_v",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_i"),
    )
    bit = (_h1(F.col("_v")) + F.col("_i") * _h2(F.col("_v"))) % m_bits
    return probes.select(
        *carry,
        F.floor(bit / BITS_PER_WORD).cast("int").alias("word_idx"),
        (bit % BITS_PER_WORD).cast("int").alias("pos"),
    )


def bloom_build(
    df: DataFrame, value_col: str, m_words: int = 1024, k: int = 5
) -> DataFrame:
    """Build the Bloom bitmap over a value column.

    Returns the sketch as a SPARSE (word_idx int, word long) DataFrame
    — at most ``m_words`` rows; an absent row is an all-zero word.
    NULL values are excluded.  Duplicated input values are free:
    ``bit_or`` is idempotent, so no distinct (and no extra shuffle) is
    needed before the aggregate — the ONLY shuffle carries
    (word_idx, partial word) pairs after map-side combine, i.e. at
    most ``m_words`` rows per task regardless of input size."""
    _check_params(m_words, k)
    probes = _probe_rows(df, F.col(value_col).cast("string"), m_words, k)
    return (
        probes.groupBy("word_idx")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), pos)")).alias("word")
        )
    )


def decontaminate_bloom(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str = "text",
    n: int = 8,
    m_words: int = 4096,
    k: int = 5,
) -> DataFrame:
    """Bloom-gated benchmark decontamination: same output contract as
    ``contamination.decontaminate`` plus the gate's own telemetry.

    Per input document (docs with < n words included, n_grams = 0):

    - n_grams           distinct word-n-grams in the document
    - bloom_hit_grams   grams the Bloom filter flags maybe-present —
                        the slice that reaches exact verification;
                        ≥ hit_grams by construction, and the gap IS
                        the realized false-positive count
    - hit_grams         exactly-verified benchmark overlaps (equals
                        ``decontaminate``'s hit_grams — the bloom gate
                        never changes the answer, only the work)
    - contamination_frac  hit_grams / n_grams (0.0 when n_grams = 0)
    - contaminated      hit_grams > 0

    Scale shape: the bitmap (m_words·8 bytes, independent of the
    benchmark's gram count) is broadcast and the 100 TB gram stream is
    filtered in ONE projection; the exact verify equi-join then runs
    only on the maybe-present slice — at a 1% FP rate that's ~99%
    less join input than ``decontaminate``'s everything-joins shape.
    Here the verify side broadcasts the bench gram-hash set like
    ``decontaminate`` does (true at eval-suite scale); with a 10^9-key
    reference set you'd flip that one join to shuffle — the surviving
    slice is already tiny, which is the point of the gate."""
    _check_params(m_words, k)
    gram = F.array_distinct(ngrams_of_words(words(F.col(bench_text_col)), n))
    bench_grams = bench.select(F.explode(gram).alias("g"))
    sketch = bloom_build(bench_grams, "g", m_words=m_words, k=k)

    doc_gram = F.array_distinct(ngrams_of_words(words(F.col(text_col)), n))
    doc_g = df.select(
        F.col(id_col).alias("_id"), F.explode(doc_gram).alias("g")
    )
    probes = _probe_rows(doc_g, F.col("g"), m_words, k, "_id", "g")
    joined = probes.join(F.broadcast(sketch), "word_idx", "left")
    bit_set = (
        F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(
            F.expr("shiftleft(CAST(1 AS BIGINT), pos)")
        )
        != 0
    )
    flagged = joined.groupBy("_id", "g").agg(F.bool_and(bit_set).alias("_maybe"))

    bench_set = bench_grams.select(portable_hash64(F.col("g")).alias("gh")).distinct()
    verified = (
        flagged.filter(F.col("_maybe"))
        .select("_id", portable_hash64(F.col("g")).alias("gh"))
        .join(F.broadcast(bench_set.withColumn("_hit", F.lit(1))), "gh", "left")
        .groupBy("_id")
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("int").alias("hit_grams"))
    )
    per_doc = (
        flagged.groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.sum(F.col("_maybe").cast("int")).cast("int").alias("bloom_hit_grams"),
        )
        .join(verified, "_id", "left")
    )
    ng = F.coalesce(F.col("n_grams"), F.lit(0))
    bh = F.coalesce(F.col("bloom_hit_grams"), F.lit(0))
    hg = F.coalesce(F.col("hit_grams"), F.lit(0))
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            ng.cast("int").alias("n_grams"),
            bh.cast("int").alias("bloom_hit_grams"),
            hg.cast("int").alias("hit_grams"),
            F.round(
                F.when(ng > 0, hg.cast("double") / ng.cast("double")).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("contamination_frac"),
            (hg > 0).alias("contaminated"),
        )
    )
