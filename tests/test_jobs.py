"""jobs/run_curate.py and jobs/run_extract.py CLIs end-to-end
in-process (the spark-submit deploy path itself is exercised by
scripts/smoke_submit.sh)."""

import json
import sys

from pyspark.sql import functions as F


def _docs(spark, tmp_path):
    rows = []
    for i in range(40):
        text = f"the quick brown fox number {i} jumps over the lazy dog again and again"
        if i % 10 == 0:
            text = "dup dup dup"  # exact dup cluster, low quality
        if i == 7:
            text += " contact me at leak@example.com"
        rows.append((i, text))
    p = str(tmp_path / "docs_in")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(p)
    return p


def test_run_curate_gates_compose(spark, tmp_path, monkeypatch):
    from jobs import run_curate

    # the job builds its own session via getOrCreate() — it reuses the
    # test session
    inp = _docs(spark, tmp_path)
    out = str(tmp_path / "curated")
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.stop", lambda self: None
    )  # keep the shared fixture session alive
    run_curate.main(
        [
            "--input", inp,
            "--output", out,
            "--lang", "en",
            "--min-quality", "0.3",
            "--min-logprob", "-12.0",
            "--dedup", "exact",
            "--scrub-pii",
        ]
    )
    got = spark.read.parquet(out)
    rows = {r["doc_id"]: r for r in got.collect()}
    # exact-dup losers dropped: of docs 0,10,20,30 exactly one (the
    # min id, 0) may survive — and "dup dup dup" fails the lang gate
    # anyway, so none survive; normal docs survive
    assert all(i not in rows for i in (10, 20, 30))
    assert 1 in rows and 7 in rows
    # pii scrubbed in the surviving text
    assert "leak@example.com" not in rows[7]["text"]
    assert "<EMAIL>" in rows[7]["text"]
    assert rows[7]["n_email"] == 1
    # quality/lang columns rode along
    assert rows[1]["lang_pred"] == "en"


def test_run_curate_substring_dedup_rewrites_text(spark, tmp_path, monkeypatch):
    from jobs import run_curate

    rows = [
        (0, "alpha unique start one two three four five end0"),
        (1, "beta prefix one two three four five suffix1"),
        (2, "gamma fully distinct content with no shared runs"),
    ]
    inp = str(tmp_path / "ss_in")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)
    out = str(tmp_path / "ss_out")
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    run_curate.main(
        ["--input", inp, "--output", out, "--dedup", "substring", "--substring-n", "5"]
    )
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 3  # substring mode drops no docs
    assert "one two three four five" in got[0]["text"]      # first occurrence kept
    assert "one two three four five" not in got[1]["text"]  # later occurrence stripped
    assert got[1]["text"] == "beta prefix suffix1"
    assert got[2]["removed_frac"] == 0.0


def test_run_curate_incremental_neardup_two_runs(spark, tmp_path, monkeypatch, capsys):
    """Crawl-over-crawl loop: run 1 emits the signature artifact; run 2
    passes it as --prior-signatures, drops new docs that near-match the
    existing corpus (prior keeper wins), keeps genuinely-new docs, and
    emits the accreted artifact."""
    from jobs import run_curate

    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    crawl1 = [
        (0, "the quick brown fox jumps over the lazy dog in the morning sun"),
        (1, "completely different prose about distributed query engines at scale"),
    ]
    crawl2 = [
        (10, "the quick brown fox jumps over the lazy dog in the morning sun"),  # dup of 0
        (11, "fresh never-seen content about scanline filters and codecs"),
        (12, "fresh never-seen content about scanline filters and codecs"),      # dup of 11
    ]
    in1, in2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    spark.createDataFrame(crawl1, ["doc_id", "text"]).write.parquet(in1)
    spark.createDataFrame(crawl2, ["doc_id", "text"]).write.parquet(in2)
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    sigs1, sigs2 = str(tmp_path / "s1"), str(tmp_path / "s2")

    def summary():
        # the job's last stdout line is its one JSON summary
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    run_curate.main(
        ["--input", in1, "--output", out1, "--dedup", "neardup",
         "--jaccard", "0.7", "--emit-signatures", sigs1]
    )
    assert spark.read.parquet(sigs1).count() == 2
    assert summary() == {"rows": spark.read.parquet(out1).count(), "signatures": 2}

    run_curate.main(
        ["--input", in2, "--output", out2, "--dedup", "neardup",
         "--jaccard", "0.7", "--prior-signatures", sigs1,
         "--emit-signatures", sigs2]
    )
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    # 10 loses to prior doc 0; 11 keeps (new cluster root); 12 loses to 11
    assert kept == [11]
    # accreted artifact = prior 2 + new 3
    assert spark.read.parquet(sigs2).count() == 5
    assert summary() == {"rows": len(kept), "signatures": 5}

    # flag validation
    import pytest

    with pytest.raises(SystemExit):
        run_curate.main(
            ["--input", in2, "--output", out2, "--dedup", "exact",
             "--prior-signatures", sigs1]
        )


def test_run_curate_semantic_dedup_keeps_cluster_min(spark, tmp_path, monkeypatch):
    """--dedup semantic: hashed-bow cosine clusters (text-only — no
    embeddings table) keep only the min-id doc per cluster."""
    from jobs import run_curate

    rows = []
    for i in range(12):
        if i in (3, 8):  # word-permutations of doc 1 -> identical bow vector
            rows.append((i, "alpha beta gamma delta epsilon zeta"))
        elif i == 1:
            rows.append((i, "zeta epsilon delta gamma beta alpha"))
        else:
            rows.append((i, f"totally unrelated content block number {i} with distinct words{i}"))
    inp = str(tmp_path / "docs_sem")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)
    out = str(tmp_path / "curated_sem")
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    run_curate.main(
        [
            "--input", inp,
            "--output", out,
            "--dedup", "semantic",
            "--cosine", "0.99",
            "--embed-dim", "32",
        ]
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # bag-of-words is order-blind: docs 1, 3, 8 share one vector ->
    # one cluster -> min id 1 survives
    assert 1 in kept and 3 not in kept and 8 not in kept
    assert {0, 2, 4, 5, 6, 7, 9, 10, 11} <= kept


def test_run_curate_gopher_gate(spark, tmp_path, monkeypatch):
    """--gopher-gate drops word-count/dup-frac violators via
    quality_gate while the other gates stay untouched."""
    from jobs import run_curate

    rows = []
    for i in range(20):
        rows.append((i, " ".join(f"word{i}x{j}" for j in range(12))))
    rows.append((100, "too short"))              # < min words
    rows.append((101, "dup " * 11 + "dup"))      # dup_word_frac 11/12
    rows.append((102, None))                     # NULL: word-count floor
    p = str(tmp_path / "docs_gg")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(p)
    out = str(tmp_path / "curated_gg")
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    run_curate.main(
        [
            "--input", p,
            "--output", out,
            "--gopher-gate",
            "--gate-min-words", "10",
            "--gate-max-dup-frac", "0.5",
        ]
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == set(range(20))


def test_run_curate_row_local_gates_judge_each_copy_of_a_repeated_id(
    spark, tmp_path, monkeypatch
):
    """Rows that share a doc_id are separate documents to the row-local
    gates: no gate emits more rows than it reads, and each copy passes
    or fails on its own text.  The cross-document gates apply their
    verdict as a semi/anti join on the id, so they do not multiply a
    repeated id either."""
    from jobs import run_curate

    en = "the quick brown fox jumps over the lazy dog, mail me at a@example.com"
    ja = "これは日本語の文章です これは日本語の文章です"  # ja; 2 words, all dup
    twin = "a quiet river runs under the old stone bridge"
    rows = [(1, en), (1, ja), (2, twin), (2, twin), (3, "")]
    p = str(tmp_path / "docs_rep_ids")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(p)
    bench = str(tmp_path / "bench_unrelated")
    spark.createDataFrame(
        [("an unrelated benchmark question about prime numbers and sums",)], ["text"]
    ).write.parquet(bench)
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    scrubbed = en.replace("a@example.com", "<EMAIL>")
    every_row = sorted(rows)
    for i, (flags, want) in enumerate([
        (["--lang", "en", "--scrub-pii"], [(1, scrubbed), (2, twin), (2, twin)]),
        # the zero-word doc has no repetition metric and passes
        (["--max-dup-frac", "0.8"], [(1, en), (2, twin), (2, twin), (3, "")]),
        (["--gopher-gate", "--gate-min-words", "5"], [(1, en), (2, twin), (2, twin)]),
        (["--bench", bench], every_row),
        (["--dedup", "neardup"], every_row),
        (["--dedup", "semantic"], every_row),
    ]):
        out = str(tmp_path / f"rep_ids_{i}")
        run_curate.main(["--input", p, "--output", out, *flags])
        got = sorted(
            (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
        )
        assert got == want, flags


def test_run_curate_mix_downsamples_survivors(spark, tmp_path, monkeypatch):
    """--mix-budget draws the deterministic per-source quota from the
    gated survivors; re-running selects the identical row set."""
    from jobs import run_curate

    rows = [(i, f"doc number {i} with several words here", "s%d" % (i % 3))
            for i in range(60)]
    p = str(tmp_path / "docs_mix")
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(p)
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)

    outs = []
    for tag in ("a", "b"):
        out = str(tmp_path / f"mixed_{tag}")
        run_curate.main([
            "--input", p, "--output", out,
            "--mix-budget", "30", "--mix-alpha", "0.5",
        ])
        outs.append({r["doc_id"] for r in spark.read.parquet(out).collect()})
    assert outs[0] == outs[1]          # deterministic draw
    assert len(outs[0]) == 30          # 3 equal sources -> exactly 10 each
    got = spark.read.parquet(str(tmp_path / "mixed_a"))
    per_src = {r["source"]: r["n"] for r in
               got.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per_src == {"s0": 10, "s1": 10, "s2": 10}


def test_run_curate_containment_dedup(spark, tmp_path, monkeypatch):
    """--dedup containment drops docs whose word set is fully inside
    another's (smaller set loses; equal sets keep min id); partial
    overlaps survive."""
    from jobs import run_curate

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma"),                 # ⊂ 1 -> dropped
        (3, "epsilon zeta"),                     # ⊂ 1 -> dropped
        (4, "alpha beta gamma delta epsilon zeta eta theta"),  # = 1 -> dropped (min id keeps)
        (5, "alpha omega psi chi phi upsilon"),  # partial overlap -> kept
    ]
    p = str(tmp_path / "docs_cont")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(p)
    out = str(tmp_path / "cont_out")
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    run_curate.main(["--input", p, "--output", out, "--dedup", "containment"])
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 5}


def test_run_curate_wet_ingestion_end_to_end(spark, tmp_path, monkeypatch):
    """--input-format wet: Common Crawl records in, gated documents
    parquet out — stable hashed doc_ids, url-host sources, and the
    downstream gates compose unchanged."""
    import os

    from jobs import run_curate
    from webtext_extraction_spark.functions.text import portable_hash64_py

    d = str(tmp_path / "wet_in")
    os.makedirs(d)
    recs = []
    for i in range(12):
        body = ("a normal page with plenty of words to pass the gate "
                "number %d repeated content here" % i)
        if i == 5:
            body = "tiny"
        recs.append(
            "WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: http://site{i % 2}.test/p/{i}\r\n"
            "WARC-Date: 2025-01-01T00:00:00Z\r\n"
            f"WARC-Record-ID: <urn:uuid:rec-{i}>\r\n"
            f"Content-Length: {len(body)}\r\n\r\n" + body
        )
    open(os.path.join(d, "f.wet"), "w").write("\r\n\r\n".join(recs))
    out = str(tmp_path / "wet_curated")
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    run_curate.main([
        "--input", d, "--input-format", "wet", "--output", out,
        "--gopher-gate", "--gate-min-words", "5",
    ])
    got = spark.read.parquet(out)
    rows = {r["url"]: r for r in got.collect()}
    assert len(rows) == 11  # the tiny doc fails the word floor
    assert "http://site1.test/p/5" not in rows
    r0 = rows["http://site0.test/p/0"]
    assert r0["doc_id"] == portable_hash64_py("<urn:uuid:rec-0>")
    assert r0["source"] == "site0.test"


def test_run_curate_incremental_nonmonotone_ids_drop_cross_crawl_dup(
    spark, tmp_path, monkeypatch
):
    """ADVICE r05: with --input-format wet the doc_id is an md5 hash, so
    a NEW doc's id can sort BELOW its prior near-duplicate; min-id
    election alone would crown the new doc the component root and keep
    a cross-crawl duplicate.  Any new doc whose cluster contains a
    prior node must drop regardless of id order."""
    from jobs import run_curate

    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    crawl1 = [
        (900, "the quick brown fox jumps over the lazy dog in the morning sun"),
        (901, "completely different prose about distributed query engines at scale"),
    ]
    crawl2 = [
        # id sorts BELOW its prior near-dup 900 — the adversarial case
        # (wet doc_ids are portable_hash64 values, not monotone counters)
        (5, "the quick brown fox jumps over the lazy dog in the morning sun"),
        (6, "fresh never-seen content about scanline filters and codecs"),
    ]
    in1, in2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    spark.createDataFrame(crawl1, ["doc_id", "text"]).write.parquet(in1)
    spark.createDataFrame(crawl2, ["doc_id", "text"]).write.parquet(in2)
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    sigs1 = str(tmp_path / "s1")

    run_curate.main(
        ["--input", in1, "--output", out1, "--dedup", "neardup",
         "--jaccard", "0.7", "--emit-signatures", sigs1]
    )
    run_curate.main(
        ["--input", in2, "--output", out2, "--dedup", "neardup",
         "--jaccard", "0.7", "--prior-signatures", sigs1]
    )
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    # 5 must DROP (its cluster contains prior 900) even though 5 < 900;
    # 6 is genuinely new
    assert kept == [6]


def test_run_extract_resumes_then_noops(spark, tmp_path, monkeypatch, capsys):
    """--buckets-per-commit commit, resume, rerun: every run ends with
    one JSON summary line, the rerun commits nothing, and the lineage
    reconciles with the output (one row per bucket, sum(rows) = data
    rows)."""
    import json

    from jobs import run_extract

    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    out = str(tmp_path / "extracted")
    args = ["--synth-convs", "30", "--output", out, "--num-buckets", "6"]
    summaries = []
    for extra in (["--buckets-per-commit", "2"], [], []):
        run_extract.main(args + extra)
        summaries.append(json.loads(capsys.readouterr().out.strip().splitlines()[-1]))
    assert summaries[0]["buckets_done"] == 2
    assert summaries[1]["buckets_done"] == 4
    assert summaries[2] == {"buckets_done": 0, "rows": 0}

    lineage = spark.read.parquet(out + "/_lineage").collect()
    data_rows = spark.read.parquet(out + "/data").count()
    assert sorted(r["bucket"] for r in lineage) == list(range(6))
    assert sum(r["rows"] for r in lineage) == data_rows
    assert summaries[0]["rows"] + summaries[1]["rows"] == data_rows


def test_run_extract_leaves_session_conf(spark, tmp_path, monkeypatch, capsys):
    """The job sets its Arrow, batch-size and AQE settings on a session
    of its own: the caller's session reads its earlier values
    afterwards, including a batch size other than the job's."""
    from jobs import run_extract
    from webtext_extraction_spark.session import ARROW_BATCH_ROWS

    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    keys = ("spark.sql.execution.arrow.pyspark.enabled", batch, "spark.sql.adaptive.enabled")
    old_batch = spark.conf.get(batch)
    spark.conf.set(batch, str(ARROW_BATCH_ROWS + 1))
    try:
        before = {k: spark.conf.get(k) for k in keys}
        out = str(tmp_path / "conf")
        run_extract.main(["--synth-convs", "8", "--output", out, "--num-buckets", "2"])
        capsys.readouterr()
        assert {k: spark.conf.get(k) for k in keys} == before
    finally:
        spark.conf.set(batch, old_batch)
