"""Portable Bloom filter (operators/membership.py): bitmap vs a pure
python replay, no-false-negative guarantee, bloom-gated
decontamination parity with the exact operator, and the broadcast plan
shape of the probe side."""

import hashlib

import pytest
from pyspark.sql import functions as F

from webtext_extraction_spark.operators import contamination, membership
from webtext_extraction_spark.operators.membership import (
    BITS_PER_WORD,
    bloom_build,
    decontaminate_bloom,
)


def _py_bloom(values, m_words, k):
    """Reference bitmap: one md5 per value, h1/h2 from disjoint 15-hex
    substrings, bit_i = (h1 + i*h2) mod m_bits."""
    m_bits = m_words * BITS_PER_WORD
    out = {}
    for v in set(values):
        h = hashlib.md5(v.encode("utf-8")).hexdigest()
        h1, h2 = int(h[:15], 16), int(h[15:30], 16)
        for i in range(k):
            b = (h1 + i * h2) % m_bits
            out[b // BITS_PER_WORD] = out.get(b // BITS_PER_WORD, 0) | (
                1 << (b % BITS_PER_WORD)
            )
    return out


def _py_hit(bitmap, v, m_words, k):
    m_bits = m_words * BITS_PER_WORD
    h = hashlib.md5(v.encode("utf-8")).hexdigest()
    h1, h2 = int(h[:15], 16), int(h[15:30], 16)
    return all(
        (bitmap.get(((h1 + i * h2) % m_bits) // BITS_PER_WORD, 0)
         >> (((h1 + i * h2) % m_bits) % BITS_PER_WORD)) & 1
        for i in range(k)
    )


VALUES = ["apple pie", "banana", "cherry tart", "日本語 テスト", "x", ""]


def test_build_matches_python_bitmap(spark):
    df = spark.createDataFrame([(v,) for v in VALUES + ["apple pie"]], ["v"])
    got = {r["word_idx"]: r["word"] for r in
           bloom_build(df, "v", m_words=16, k=5).collect()}
    # "" is a non-null value and IS inserted (NULLs are excluded)
    assert got == _py_bloom(VALUES, 16, 5)


def test_null_values_excluded(spark):
    df = spark.createDataFrame([("a",), (None,)], "v string")
    got = {r["word_idx"]: r["word"] for r in
           bloom_build(df, "v", m_words=8, k=3).collect()}
    assert got == _py_bloom(["a"], 8, 3)


def test_probe_no_false_negatives_and_python_parity(spark):
    """decontaminate_bloom's probe at n=1: a one-word doc's
    bloom_hit_grams is its word's bit test against the bench bitmap."""
    ins = [f"doc-{i}" for i in range(200)]
    bench = spark.createDataFrame(list(enumerate(ins)), ["doc_id", "text"])
    probes = ins[:20] + [f"absent-{i}" for i in range(200)]
    docs = spark.createDataFrame(list(enumerate(probes)), ["doc_id", "text"])
    # deliberately tiny → FPs
    hits = decontaminate_bloom(docs, bench, "doc_id", "text", n=1, m_words=8, k=4).collect()
    got = {probes[r["doc_id"]]: r["bloom_hit_grams"] == 1 for r in hits}
    bitmap = _py_bloom(ins, 8, 4)
    assert all(got[v] for v in ins[:20])  # membership is never missed
    assert all(got[v] == _py_hit(bitmap, v, 8, 4) for v in probes)
    # the tiny sizing really does produce false positives (non-vacuous)
    assert any(got[f"absent-{i}"] for i in range(200))


def test_param_validation(spark):
    df = spark.createDataFrame([("a",)], ["v"])
    with pytest.raises(ValueError, match="m_words"):
        bloom_build(df, "v", m_words=0, k=3)
    with pytest.raises(ValueError, match="k must be"):
        # k=8 would let h1 + 7*h2 reach 2^63 — the DuckDB-overflow bound
        bloom_build(df, "v", m_words=8, k=8)
    with pytest.raises(ValueError, match="k must be"):
        decontaminate_bloom(df, df, "v", "v", m_words=8, k=0)


def _mini_corpus(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta other words here"),
        (2, "totally different content nothing shared at all"),
        (3, None),
        (4, ""),
        (5, "short"),
        (10, "alpha beta gamma delta epsilon zeta"),  # bench
        (11, "held out benchmark sentence with unique tokens", ),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_decontaminate_bloom_parity_with_exact(spark):
    docs = _mini_corpus(spark)
    bench = docs.filter(F.col("doc_id") >= 10)
    scored = docs.filter(F.col("doc_id") < 10)
    for m_words in (2, 64):  # saturated and roomy bitmaps
        got = {r["doc_id"]: r.asDict() for r in
               decontaminate_bloom(scored, bench, "doc_id", "text",
                                   n=3, m_words=m_words, k=3).collect()}
        exact = {r["doc_id"]: r.asDict() for r in
                 contamination.decontaminate(scored, bench, "doc_id",
                                             "text", n=3).collect()}
        assert set(got) == set(exact)
        for d in exact:
            for col in ("n_grams", "hit_grams", "contamination_frac",
                        "contaminated"):
                assert got[d][col] == exact[d][col], (m_words, d, col)
            # bloom pass-through never loses a true hit
            assert got[d]["bloom_hit_grams"] >= got[d]["hit_grams"]


def test_decontaminate_bloom_zero_gram_docs(spark):
    docs = _mini_corpus(spark)
    got = {r["doc_id"]: r.asDict() for r in
           decontaminate_bloom(docs.filter(F.col("doc_id") < 10),
                               docs.filter(F.col("doc_id") >= 10),
                               "doc_id", "text", n=3, m_words=8,
                               k=3).collect()}
    for d in (3, 4, 5):  # NULL / empty / too-short
        assert got[d]["n_grams"] == 0
        assert got[d]["bloom_hit_grams"] == 0
        assert got[d]["contaminated"] is False
        assert got[d]["contamination_frac"] == 0.0


def test_probe_plan_broadcasts_sketch(spark):
    """The sketch side of decontaminate_bloom's probe join must
    broadcast — the 100 TB side never shuffles for a membership test."""
    docs = _mini_corpus(spark)
    out = decontaminate_bloom(docs.filter(F.col("doc_id") < 10),
                              docs.filter(F.col("doc_id") >= 10),
                              "doc_id", "text", n=3, m_words=64, k=4)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    probe_joins = [b.strip().split("\n")[0] for b in plan.split("\n\n")
                   if "Join" in b.strip().split("\n")[0] and "keys [1]: [word_idx" in b]
    assert probe_joins and all("BroadcastHashJoin" in j for j in probe_joins), plan
