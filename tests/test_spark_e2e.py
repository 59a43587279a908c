"""End-to-end DataFrame tests (SURVEY.md §5.2 items 3-4).

- UDF path equals driver-side kernel on every turn (plumbing parity)
- output (conv_id, turn_idx, extracted_text) stable under repartition
  and salting (T01)
- F6 error_pattern layering, F5 render exclusions, Q5 timeout kept
- resume/idempotency: two-phase run equals single-shot run (T05)
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from webtext_extraction_spark.fixtures_pages import payload_for
from webtext_extraction_spark.kernel.extract import extract_payload
from webtext_extraction_spark.operators.extraction import extract_turns
from webtext_extraction_spark.operators.partitioning import (
    probe_payload_stats,
    salted_repartition,
)
from webtext_extraction_spark.plans.lineage import (
    DATA_DIR,
    _literal,
    read_lineage,
    run_extraction,
)
from webtext_extraction_spark.plans.pipeline import extraction_pipeline, render_extracted
from webtext_extraction_spark.sources.transcripts import synth_transcripts

N_CONV = 40


def _committed(spark, out):
    """The data rows run_extraction committed under ``out``."""
    return spark.read.parquet(_literal(os.path.join(out, DATA_DIR)))


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, num_conversations=N_CONV).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def extracted(spark, transcripts):
    df = extraction_pipeline(transcripts).cache()
    df.count()
    return df


def test_udf_matches_driver_side_kernel(extracted):
    rows = extracted.select(
        "conv_id", "turn_idx", "tool", "extracted_text", "strategy"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        payload, tool = payload_for(r["conv_id"], r["turn_idx"])
        expected = extract_payload(payload, tool)
        assert r["extracted_text"] == expected.text, (r["conv_id"], r["turn_idx"])
        assert r["strategy"] == expected.strategy


def test_stable_order_under_partitioning(spark, transcripts):
    """3- and 11-way salted repartitions (the 11-way one over a
    13-split input, salting whatever the full probe finds hot) extract
    exactly what direct extraction does, in the same stable order."""
    def ordered(df):
        return (
            extract_turns(df)
            .orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", "extracted_text")
            .collect()
        )

    direct = ordered(transcripts)
    resplit = transcripts.repartition(13)
    assert ordered(salted_repartition(transcripts, 3)) == direct
    assert ordered(salted_repartition(resplit, 11, probe_payload_stats(resplit)["hot_keys"])) == direct
    keys = [(r["conv_id"], r["turn_idx"]) for r in direct]
    assert keys == sorted(keys)


def test_all_statuses_present_and_error_pattern_layered(extracted):
    statuses = {r[0] for r in extracted.select("status").distinct().collect()}
    assert "ok" in statuses
    assert "error_pattern" in statuses  # h19 pages re-classified in the batch
    err = extracted.filter(F.col("status") == "error_pattern").first()
    assert "ERR_TIMED_OUT" in err["extracted_text"] or "このサイト" in err["extracted_text"]


def test_error_pattern_status_set_in_batch(transcripts):
    """F6 runs inside the extraction batch: the retro-scan with the
    default patterns changes no row of extract_turns output, and every
    h19 (browser error page) turn is error_pattern."""
    from webtext_extraction_spark import rules
    from webtext_extraction_spark.fixtures_pages import archetype_for
    from webtext_extraction_spark.operators.extraction import (
        extract_turns,
        with_error_pattern_status,
    )

    out = extract_turns(transcripts).select("conv_id", "turn_idx", "extracted_text", "status")
    rescanned = with_error_pattern_status(out, patterns=list(rules.ERROR_PATTERNS))
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == sorted(tuple(r) for r in rescanned.collect())
    h19 = [r for r in rows if archetype_for(r[0], r[1])[0] == "h19_error_pattern"]
    assert h19
    assert {r[3] for r in h19} == {"error_pattern"}


def test_span_invariant_through_arrow(extracted, spark):
    # spans survive the Arrow struct round-trip and still reconstruct
    from webtext_extraction_spark.kernel.tracked import reconstruct

    rows = extracted.select("conv_id", "turn_idx", "extracted_text", "spans").limit(
        200
    ).collect()
    for r in rows:
        payload, _tool = payload_for(r["conv_id"], r["turn_idx"])
        spans = [(s["start"], s["end"], s["kind"]) for s in r["spans"]]
        assert reconstruct(payload, r["extracted_text"], spans) == r["extracted_text"]


def test_render_excludes_failures_keeps_timeouts(extracted):
    text = render_extracted(extracted)
    assert "すべての抽出方法でテキストを抽出できませんでした" not in text
    assert "PDFファイルの処理中にエラーが発生しました" not in text
    assert "ERR_TIMED_OUT" not in text  # error_pattern rows excluded
    has_timeout = extracted.filter(F.col("status") == "timeout").count() > 0
    if has_timeout:
        assert text.startswith("テキスト抽出タイムアウトページあり（該当URL表示）\n")
        assert "（テキスト抽出タイムアウト）" in text  # Q5: kept in body


def test_render_limit_bounds_renderable_rows_not_prefilter(spark):
    """ADVICE r03: ``limit`` counts RENDERABLE records — failure/error
    rows are filtered Spark-side before the limit, so a failure-heavy
    prefix can no longer starve the output (and failure rows are never
    collected to the driver)."""
    rows = [("c0", i, f"https://ex.com/f{i}", "fail", "failure_template") for i in range(3)]
    rows += [("c1", i, f"https://ex.com/ok{i}", f"body {i}", "success") for i in range(5)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, url string, extracted_text string, status string"
    )
    text = render_extracted(df, limit=5)
    # all 5 renderable records survive even though 3 failure rows sort
    # first (the old pre-filter limit would have rendered only 2)
    assert [b.split("\n", 1)[0] for b in text.split("\n\n\n")] == [
        f"https://ex.com/ok{i}" for i in range(5)
    ]
    # the Q8 header still subtracts failure urls it never collected as rows
    with_hdr = render_extracted(df, limit=5, source_name="google")
    head = with_hdr.partition("\n\n\n\n\n")[0]
    assert "https://ex.com/f0" not in head and "https://ex.com/ok0" in head


def test_render_q8_header_matches_golden(extracted):
    """Q8 (VERDICT r02 #6): source banner + filtered URL list + exactly
    five newlines before the first record, byte-equal to the committed
    reference-shape golden (tests/gen_render_golden.py)."""
    import pathlib

    golden = (
        pathlib.Path(__file__).parent / "goldens" / "render_q8.txt"
    ).read_text(encoding="utf-8")
    text = render_extracted(extracted, source_name="google")
    assert text == golden

    # structure spot-checks: banner is 62 chars of name+'=', URL list
    # ends with exactly 5 newlines before the next section
    assert text.startswith("google" + "=" * 56 + "\n\n")
    head, _, _rest = text.partition("\n\n\n\n\n")
    assert "\n\n\n\n\n\n" not in head + "\n\n\n\n\n"
    # excluded rows' urls are absent from the header list
    excl = extracted.filter(
        F.col("status").isin("failure_template", "error_pattern")
        & F.col("url").isNotNull()
    ).select("url").distinct().collect()
    assert excl, "fixture must contain excluded rows with urls"
    header_urls = set(head.split("\n\n", 1)[1].split("\n"))
    for r in excl:
        assert r["url"] not in header_urls

    yahoo = render_extracted(extracted, source_name="yahoo")
    assert yahoo.startswith("yahoo" + "=" * 57 + "\n\n")
    with pytest.raises(ValueError, match="source_name"):
        render_extracted(extracted, source_name="bing")


def test_resume_detects_changed_input_snapshot(spark, transcripts, tmp_path):
    """A resume handed a different input_snapshot must raise, not mix
    two input versions into one output (lineage.run_extraction)."""
    out = str(tmp_path / "snap")
    run_extraction(
        spark, transcripts, out, num_buckets=8, buckets_per_commit=3,
        input_snapshot="snap-A",
    )
    with pytest.raises(ValueError, match="different input snapshot"):
        run_extraction(
            spark, transcripts, out, num_buckets=8, input_snapshot="snap-B"
        )
    # same snapshot resumes fine
    r = run_extraction(
        spark, transcripts, out, num_buckets=8, input_snapshot="snap-A"
    )
    assert r["buckets_done"] == 5
    shutil.rmtree(out, ignore_errors=True)


def test_write_parallelism_decoupled_from_buckets(spark, transcripts, tmp_path):
    """With num_buckets=2 the write stage (2 tasks per core) must still
    produce more than one file per bucket (the one-task-per-bucket
    collapse is VERDICT r01 perf-weak #3)."""
    import glob

    out = str(tmp_path / "wide")
    run_extraction(spark, transcripts, out, num_buckets=2)
    for b in (0, 1):
        files = glob.glob(f"{out}/data/bucket={b}/*.parquet")
        assert len(files) > 1, f"bucket {b} wrote {len(files)} file(s)"
    # output unchanged by the wider write
    rows = _committed(spark, out).select("conv_id", "turn_idx").collect()
    assert len(rows) == transcripts.count()
    shutil.rmtree(out, ignore_errors=True)


def test_resume_idempotent(spark, transcripts, tmp_path):
    single = str(tmp_path / "single")
    phased = str(tmp_path / "phased")

    run_extraction(spark, transcripts, single, num_buckets=8)
    full = _committed(spark, single).select(
        "conv_id", "turn_idx", "extracted_text"
    ).collect()

    # phase 1: only 3 buckets commit (simulated kill)
    r1 = run_extraction(spark, transcripts, phased, num_buckets=8, buckets_per_commit=3)
    assert r1["buckets_done"] == 3
    assert len({r["bucket"] for r in read_lineage(spark, phased)}) == 3
    # phase 2: resume processes only the remaining buckets
    r2 = run_extraction(spark, transcripts, phased, num_buckets=8)
    assert r2["buckets_done"] == 8 - 3
    # phase 3: nothing left — fully idempotent no-op
    r3 = run_extraction(spark, transcripts, phased, num_buckets=8)
    assert r3 == {"buckets_done": 0, "rows": 0}

    resumed = _committed(spark, phased).select(
        "conv_id", "turn_idx", "extracted_text"
    ).collect()
    assert sorted(full) == sorted(resumed)
    # no duplicate keys
    keys = [(r["conv_id"], r["turn_idx"]) for r in resumed]
    assert len(keys) == len(set(keys))

    # lineage rows complete and carry the north-rule fields
    lineage = spark.read.parquet(phased + "/_lineage").collect()
    assert {r["bucket"] for r in lineage} == set(range(8))
    for r in lineage:
        assert r["rows"] == r["rows_in"]
        assert r["bytes_in"] > 0 and r["bytes_out"] >= 0
        assert r["rows_ok"] + r["rows_not_ok"] == r["rows"]
        assert r["rule_version"] and r["input_snapshot"]
    shutil.rmtree(single, ignore_errors=True)
    shutil.rmtree(phased, ignore_errors=True)


def test_lineage_of_killed_first_append_reads_empty(spark, transcripts, tmp_path):
    """A run killed during its first lineage append leaves a `_lineage`
    dir that holds only `_temporary`: it reads as no committed bucket,
    and the next run commits every bucket."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "killed")
    attempt = os.path.join(out, "_lineage", "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(attempt)
    pq.write_table(
        pa.table({"bucket": pa.array([99], pa.int32()), "input_snapshot": ["unversioned"]}),
        os.path.join(attempt, "part-00000.parquet"),
    )
    assert read_lineage(spark, out) == []
    r = run_extraction(spark, transcripts, out, num_buckets=4)
    assert sorted(row["bucket"] for row in read_lineage(spark, out)) == list(
        range(r["buckets_done"])
    )
    assert r["rows"] == transcripts.count()
    shutil.rmtree(out, ignore_errors=True)


def test_resume_under_glob_metacharacter_output_path(spark, transcripts, tmp_path):
    """An output dir named like a glob pattern (``run[1]``) is read
    literally: the resume sees the committed lineage, commits only the
    remaining buckets, and still refuses a different input snapshot."""
    out = str(tmp_path / "run[1]" / "out")
    r1 = run_extraction(spark, transcripts, out, num_buckets=8, buckets_per_commit=3)
    assert len(read_lineage(spark, out)) == 3
    with pytest.raises(ValueError, match="different input snapshot"):
        run_extraction(spark, transcripts, out, num_buckets=8, input_snapshot="other")
    r2 = run_extraction(spark, transcripts, out, num_buckets=8)
    assert r1["buckets_done"] + r2["buckets_done"] == len(read_lineage(spark, out))
    rows = _committed(spark, out).select("conv_id", "turn_idx").collect()
    assert len(rows) == len(set(rows)) == transcripts.count()
    assert r1["rows"] + r2["rows"] == len(rows)
    shutil.rmtree(str(tmp_path / "run[1]"), ignore_errors=True)


def test_resume_idempotent_at_4096_buckets(spark, transcripts, tmp_path):
    """VERDICT r02 #9: resume at 4096 buckets completes idempotently —
    completed buckets are dropped on the driver, so the plan carries no
    resume filter however many buckets the lineage holds."""
    out = str(tmp_path / "hibuck")
    r1 = run_extraction(
        spark, transcripts, out, num_buckets=4096, buckets_per_commit=5,
    )
    assert r1["buckets_done"] == 5
    r2 = run_extraction(spark, transcripts, out, num_buckets=4096)
    total_buckets = (
        transcripts.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(4096)).cast("int").alias("b")
        ).distinct().count()
    )
    assert r1["buckets_done"] + r2["buckets_done"] == total_buckets
    rows = _committed(spark, out).select("conv_id", "turn_idx").collect()
    assert len(rows) == transcripts.count()
    assert len(set(rows)) == len(rows)
    shutil.rmtree(out, ignore_errors=True)


def test_resumed_commit_job_count(spark, transcripts, tmp_path):
    """A resumed commit runs at most 7 Spark jobs: one lineage read,
    two for bucket discovery, two for the data commit, two for the
    lineage commit."""
    out = str(tmp_path / "jobs")
    run_extraction(spark, transcripts, out, num_buckets=8, buckets_per_commit=3)
    sc = spark.sparkContext
    sc.setJobGroup("resumed-commit", "resumed commit")
    try:
        r = run_extraction(spark, transcripts, out, num_buckets=8, buckets_per_commit=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r["buckets_done"] == 3
    jobs = sc.statusTracker().getJobIdsForGroup("resumed-commit")
    assert 0 < len(jobs) <= 7, jobs
    shutil.rmtree(out, ignore_errors=True)


def test_run_extraction_leaves_session_conf(spark, transcripts, tmp_path):
    """Dynamic partition overwrite is a writer option: the caller's
    session conf is the same after run_extraction as before."""
    key = "spark.sql.sources.partitionOverwriteMode"
    out = str(tmp_path / "conf")
    spark.conf.set(key, "static")
    try:
        run_extraction(spark, transcripts, out, num_buckets=4)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)
    shutil.rmtree(out, ignore_errors=True)


def test_lineage_accounting_derived_from_output(spark, transcripts, tmp_path):
    """bytes_in/rows_in must equal an independent input aggregate even
    though run_extraction never runs one (the accounting rides through
    the extraction projection as payload_bytes — VERDICT r02 #1)."""
    out = str(tmp_path / "acct")
    run_extraction(spark, transcripts, out, num_buckets=4)

    expected = {
        r["bucket"]: (r["rows_in"], r["bytes_in"])
        for r in transcripts.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("rows_in"),
            F.sum(F.length("text")).alias("bytes_in"),
        )
        .collect()
    }
    lineage = spark.read.parquet(out + "/_lineage").collect()
    got = {r["bucket"]: (r["rows_in"], r["bytes_in"]) for r in lineage}
    assert got == expected

    # the output table carries per-row payload_bytes == length(input text)
    data = spark.read.parquet(out + "/data")
    joined = data.select("conv_id", "turn_idx", "payload_bytes").join(
        transcripts.select("conv_id", "turn_idx", F.length("text").alias("want")),
        ["conv_id", "turn_idx"],
    )
    assert joined.filter(F.col("payload_bytes") != F.col("want")).count() == 0
    shutil.rmtree(out, ignore_errors=True)


def test_run_extraction_single_payload_scan(spark, transcripts, tmp_path):
    """Structural pin for 'the text column is read exactly once per
    run': (a) the bucket-discovery action prunes the payload column out
    of its scan, and (b) the phase-1 extraction plan — the only plan
    that touches the input — scans the input relation once, already
    carrying payload_bytes (no second accounting scan exists)."""
    from webtext_extraction_spark.operators.extraction import extract_turns
    from webtext_extraction_spark.operators.partitioning import bucket_id

    path = str(tmp_path / "scan_in")
    transcripts.write.parquet(path)
    src = spark.read.parquet(path).withColumn(
        "bucket", bucket_id(F.col("conv_id"), 8)
    )

    def plan(df):
        return df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # (a) discovery reads conv_id only — ReadSchema excludes text
    discovery = plan(src.select("bucket").distinct())
    read_schema = discovery.split("ReadSchema")[1].split("\n")[0]
    assert "conv_id" in read_schema and "text" not in read_schema

    # (b) phase-1 plan: ONE scan of the input, payload_bytes computed in
    # the same projection as extraction
    import re

    extracted = extract_turns(src.withColumn("payload_bytes", F.length("text")))
    p = plan(extracted)
    # formatted explain names each node twice (tree + details): count
    # distinct scan node ids
    scan_ids = set(re.findall(r"Scan parquet[^\n]*\((\d+)\)", p))
    assert len(scan_ids) == 1, p
    assert "payload_bytes" in p
    shutil.rmtree(path, ignore_errors=True)


def test_open_transcripts_formats_roundtrip(spark, transcripts, tmp_path):
    from webtext_extraction_spark.sources.transcripts import open_transcripts

    expected = sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in transcripts.collect()
    )
    pq = str(tmp_path / "fmt_pq")
    oc = str(tmp_path / "fmt_oc")
    js = str(tmp_path / "fmt_js")
    transcripts.write.parquet(pq)
    transcripts.write.orc(oc)
    transcripts.write.json(js)
    for fmt, path in (("parquet", pq), ("orc", oc), ("json", js)):
        got = sorted(
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in open_transcripts(spark, path, fmt).collect()
        )
        assert got == expected, fmt

    # CSV: exact modulo the format's documented lossiness — empty
    # string↔NULL ambiguity and control-character (NUL) stripping
    cs = str(tmp_path / "fmt_cs")
    transcripts.write.option("header", "true").option("escape", '"').csv(cs)
    got_cs = sorted(
        (r["conv_id"], r["turn_idx"], (r["text"] or ""))
        for r in open_transcripts(spark, cs, "csv").collect()
    )
    normalized = [(c, t, x.replace("\x00", "")) for c, t, x in expected]
    assert got_cs == normalized

    with pytest.raises(ValueError, match="unsupported transcripts format"):
        open_transcripts(spark, pq, "avro")


def test_audit_spans_flags_corruption(spark, transcripts):
    from webtext_extraction_spark.operators.extraction import audit_spans, extract_turns

    extracted = extract_turns(transcripts)
    audit = audit_spans(extracted, transcripts)
    counts = {r["span_ok"]: r["n"] for r in audit.groupBy("span_ok").agg(F.count("*").alias("n")).collect()}
    assert counts.get("mismatch", 0) == 0 and counts["ok"] == transcripts.count()

    # corrupt the extracted text of every row -> every span set mismatches
    broken = extracted.withColumn(
        "extracted_text", F.concat(F.col("extracted_text"), F.lit("CORRUPTED"))
    ).filter(F.length("extracted_text") > len("CORRUPTED"))
    bad = audit_spans(broken, transcripts)
    bad_counts = {r["span_ok"]: r["n"] for r in bad.groupBy("span_ok").agg(F.count("*").alias("n")).collect()}
    assert bad_counts.get("ok", 0) == 0 and bad_counts["mismatch"] > 0


def test_extract_turns_distinct_equals_direct(spark, transcripts):
    """Global dedup-before-extract returns row-identical results to
    direct extraction — on an input with PLANTED globally-scattered
    exact-duplicate payloads (the case the operator exists for)."""
    from webtext_extraction_spark.operators.extraction import (
        extract_turns,
        extract_turns_distinct,
    )

    base = transcripts.limit(60)
    # plant dups: same payloads under new conv ids, scattered partitions
    dups = (
        base.limit(20)
        .withColumn("conv_id", F.concat(F.lit("dup-"), F.col("conv_id")))
        .repartition(5)
    )
    df = base.unionByName(dups)

    direct = extract_turns(df).orderBy("conv_id", "turn_idx").collect()
    via_distinct = extract_turns_distinct(df).orderBy("conv_id", "turn_idx").collect()
    assert len(direct) == len(via_distinct) > 0
    for a, b in zip(direct, via_distinct):
        assert a == b
    # and a planted dup row really equals its original
    originals = {(r["conv_id"], r["turn_idx"]): r["extracted_text"] for r in direct}
    dup_rows = [r for r in direct if r["conv_id"].startswith("dup-")]
    assert dup_rows
    for r in dup_rows:
        assert r["extracted_text"] == originals[(r["conv_id"][4:], r["turn_idx"])]


def test_batch_memo_duplicate_payloads_byte_identical():
    """_extract_batch's duplicate-payload memo must return byte-identical
    rows for duplicate (payload, tool) inputs — including span columns —
    and match the unmemoized single-row result."""
    import pyarrow as pa

    from webtext_extraction_spark.kernel.extract import extract_payload
    from webtext_extraction_spark.operators.extraction import _extract_batch

    p1, t1 = payload_for("convA", 1)
    p2, t2 = payload_for("convB", 2)
    texts = pa.array([p1, p2, p1, p1, p2], type=pa.string())
    tools = pa.array([t1, t2, t1, t1, t2], type=pa.string())
    out = _extract_batch(texts, tools).to_pylist()
    assert out[0] == out[2] == out[3]
    assert out[1] == out[4]
    for idx, (p, t) in [(0, (p1, t1)), (1, (p2, t2))]:
        expected = extract_payload(p, t)
        assert out[idx]["extracted_text"] == expected.text
        assert [
            (s["start"], s["end"], s["kind"]) for s in out[idx]["spans"]
        ] == expected.spans


def test_extract_turns_distinct_digest_is_injective(spark):
    """(payload, tool) pairs that collide under a naive delimiter-concat
    digest (NUL inside a field) must still get their OWN extraction
    results (code-review r3 finding: md5(text)||md5(tool), not
    md5(text || NUL || tool))."""
    import datetime

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from webtext_extraction_spark.operators.extraction import (
        extract_turns,
        extract_turns_distinct,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, "tool", "<p>alpha body text</p>a\x00b", "c", ts),
        ("c2", 0, "tool", "<p>alpha body text</p>a", "b\x00c", ts),
    ]
    df = spark.createDataFrame(rows, schema)
    direct = {r["conv_id"]: r for r in extract_turns(df).collect()}
    via = {r["conv_id"]: r for r in extract_turns_distinct(df).collect()}
    assert set(via) == {"c1", "c2"}
    for cid in ("c1", "c2"):
        assert via[cid] == direct[cid]
