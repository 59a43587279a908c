"""Streaming extraction: file-source micro-batches produce the same
rows as the batch operator, with exactly-once on resume; watermarked
windowed rollups drop late rows; applyInPandasWithState counters
accumulate across micro-batches AND across query restarts."""

import datetime

from pyspark.sql import functions as F

from webtext_extraction_spark.operators.extraction import extract_turns
from webtext_extraction_spark.sources.transcripts import synth_transcripts
from webtext_extraction_spark.streaming.stream import (
    read_stream_output,
    stream_conversation_state,
    stream_extract,
    stream_status_rollup,
)


def test_stream_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    transcripts = synth_transcripts(spark, num_conversations=12)
    transcripts.write.mode("overwrite").parquet(inp)

    q = stream_extract(spark, inp, out, ckpt, available_now=True)
    q.awaitTermination(300)

    streamed = (
        spark.read.parquet(out)
        .select("conv_id", "turn_idx", "extracted_text", "status")
        .collect()
    )
    batch = (
        extract_turns(spark.read.parquet(inp))
        .select("conv_id", "turn_idx", "extracted_text", "status")
        .collect()
    )
    assert sorted(streamed) == sorted(batch)

    # restart with same checkpoint: no new input → no duplicates
    q2 = stream_extract(spark, inp, out, ckpt, available_now=True)
    q2.awaitTermination(300)
    again = spark.read.parquet(out).count()
    assert again == len(batch)


def _mk_turns(spark, conv_ids, n_turns, ts0):
    rows = [
        (c, t, "user", f"payload text for {c} turn {t} " * 3, "fetch",
         ts0 + datetime.timedelta(seconds=120 * t))
        for c in conv_ids
        for t in range(n_turns)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def test_windowed_rollup_emits_closed_windows_and_drops_late(spark, tmp_path):
    inp = str(tmp_path / "win_in")
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    # batch 1: rows spanning 00:00-01:00
    rows1 = [
        ("c1", i, "user", "x" * 120, "fetch", t0 + datetime.timedelta(minutes=2 * i))
        for i in range(30)
    ]
    spark.createDataFrame(
        rows1, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.mode("append").parquet(inp)
    q = stream_status_rollup(spark, inp, out, ckpt, window="10 minutes", watermark="5 minutes")
    q.awaitTermination(300)

    # batch 2: a future row advances the watermark far past 01:00 → all
    # earlier windows flush
    spark.createDataFrame(
        [("c2", 0, "user", "y" * 120, "fetch", t0 + datetime.timedelta(hours=3))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).write.mode("append").parquet(inp)
    q = stream_status_rollup(spark, inp, out, ckpt, window="10 minutes", watermark="5 minutes")
    q.awaitTermination(300)

    emitted = spark.read.parquet(out).collect()
    windows = {}
    for r in emitted:
        windows[r["window_start"]] = windows.get(r["window_start"], 0) + r["rows"]
    # every 10-minute window of batch 1 is closed now and emitted once
    for k in range(6):
        ws = t0 + datetime.timedelta(minutes=10 * k)
        assert windows.get(ws) == 5, (ws, windows)

    # batch 3: a LATE row (ts inside batch 1's range, far behind the
    # watermark) must be dropped — no new output, no double-count
    spark.createDataFrame(
        [("late", 0, "user", "z" * 120, "fetch", t0 + datetime.timedelta(minutes=1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).write.mode("append").parquet(inp)
    q = stream_status_rollup(spark, inp, out, ckpt, window="10 minutes", watermark="5 minutes")
    q.awaitTermination(300)
    after = spark.read.parquet(out).collect()
    late_total = sum(r["rows"] for r in after if r["window_start"] == t0)
    assert late_total == 5  # unchanged — late row dropped


def test_stateful_conversation_counters_accumulate(spark, tmp_path):
    inp = str(tmp_path / "st_in")
    out = str(tmp_path / "st_out")
    ckpt = str(tmp_path / "st_ckpt")
    t0 = datetime.datetime(2024, 1, 1)

    _mk_turns(spark, ["a", "b"], 2, t0).write.mode("append").parquet(inp)
    _mk_turns(spark, ["a", "b"], 3, t0).write.mode("append").parquet(inp)

    q = stream_conversation_state(spark, inp, out, ckpt)
    q.awaitTermination(300)
    # ADVICE r03: the sink root carries a visible _LAYOUT marker
    # documenting the per-batch subdirectory layout
    import pathlib

    assert "batch_" in (pathlib.Path(out) / "_LAYOUT").read_text()
    updates = read_stream_output(spark, out).collect()
    # state accumulated across micro-batches: final total = 2 + 3 turns
    finals = {}
    for r in updates:
        finals[r["conv_id"]] = max(finals.get(r["conv_id"], 0), r["turns_seen"])
    assert finals == {"a": 5, "b": 5}

    # restart with the SAME checkpoint + a third file: state store
    # persists, totals continue (not reset)
    _mk_turns(spark, ["a"], 4, t0).write.mode("append").parquet(inp)
    q2 = stream_conversation_state(spark, inp, out, ckpt)
    q2.awaitTermination(300)
    finals2 = {}
    for r in read_stream_output(spark, out).collect():
        finals2[r["conv_id"]] = max(finals2.get(r["conv_id"], 0), r["turns_seen"])
    assert finals2.get("a") == 9  # 5 carried in state + 4 new
    assert finals2.get("b") == 5  # untouched by the restart


def test_streaming_training_pairs_match_batch_across_batches_and_restart(spark, tmp_path):
    """The streaming pair assembler must equal the batch operator on an
    in-order replay — including prompts whose context turns arrived in
    EARLIER micro-batches (rolling state), and no duplicates after a
    checkpoint restart."""
    import pandas as pd

    from webtext_extraction_spark.operators.conversations import conversation_pairs
    from webtext_extraction_spark.streaming.stream import stream_training_pairs

    inp = str(tmp_path / "tp_in")
    out = str(tmp_path / "tp_out")
    ckpt = str(tmp_path / "tp_ckpt")
    t0 = datetime.datetime(2024, 1, 1)

    def rows(rng):
        return [
            ("c%02d" % c, t, "user" if t % 2 == 0 else "assistant",
             f"turn {t} of conv {c}", "fetch", t0 + datetime.timedelta(seconds=t))
            for c in range(3)
            for t in rng
        ]

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    # file 1: turns 0-3, file 2: turns 4-7 — each conversation's later
    # prompts need context held over from the previous micro-batch
    spark.createDataFrame(rows(range(0, 4)), schema).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(rows(range(4, 8)), schema).coalesce(1).write.parquet(inp + "/f2")

    q = stream_training_pairs(spark, inp + "/*", out, ckpt, context_turns=3)
    q.awaitTermination(300)

    streamed = sorted(
        (r["conv_id"], int(r["turn_idx"]), r["prompt"], r["completion"], int(r["n_context"]))
        for r in read_stream_output(spark, out).collect()
    )
    full = spark.createDataFrame(rows(range(0, 8)), schema)
    batch = sorted(
        (r["conv_id"], int(r["turn_idx"]), r["prompt"], r["completion"], int(r["n_context"]))
        for r in conversation_pairs(full, context_turns=3).collect()
    )
    assert streamed == batch
    assert len(streamed) == 3 * 4  # 4 assistant turns per conversation
    # a cross-batch prompt really uses earlier-batch turns
    cross = [r for r in streamed if r[1] == 5][0]
    assert "turn 2 of conv" in cross[2] and "turn 4 of conv" in cross[2]

    # restart on the same checkpoint: no new input, no new rows
    q2 = stream_training_pairs(spark, inp + "/*", out, ckpt, context_turns=3)
    q2.awaitTermination(300)
    assert read_stream_output(spark, out).count() == len(streamed)


def test_streaming_pairs_chunked_groups_and_null_fields_match_batch(spark, tmp_path):
    """Two review-found hazards pinned: (1) a group delivered as
    MULTIPLE Arrow chunks with shuffled row order must still assemble
    in turn order (per-chunk sorting would interleave wrongly);
    (2) NULL role follows concat_ws semantics (line = bare text) and
    NULL turn_idx doesn't crash — both matching the batch operator."""
    from webtext_extraction_spark.operators.conversations import conversation_pairs
    from webtext_extraction_spark.streaming.stream import stream_training_pairs

    inp = str(tmp_path / "ck_in")
    out = str(tmp_path / "ck_out")
    ckpt = str(tmp_path / "ck_ckpt")
    t0 = datetime.datetime(2024, 1, 1)

    rows = [
        ("c0", t, None if t == 2 else ("user" if t % 2 == 0 else "assistant"),
         f"text {t}", "fetch", t0)
        for t in range(10)
    ]
    import random as _random

    _random.Random(3).shuffle(rows)  # file order != turn order
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    full = spark.createDataFrame(rows, schema)
    full.coalesce(1).write.parquet(inp + "/f1")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        q = stream_training_pairs(spark, inp + "/*", out, ckpt, context_turns=4)
        q.awaitTermination(300)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    streamed = sorted(
        (r["conv_id"], r["turn_idx"], r["prompt"], r["completion"], int(r["n_context"]))
        for r in read_stream_output(spark, out).collect()
    )
    batch = sorted(
        (r["conv_id"], r["turn_idx"], r["prompt"], r["completion"], int(r["n_context"]))
        for r in conversation_pairs(full, context_turns=4).collect()
    )
    assert streamed == batch
    # the NULL-role turn appears in some prompt as a bare-text line
    assert any("\ntext 2\n" in p or p.startswith("text 2\n") or "\ntext 2" in p
               for _, _, p, _, _ in streamed)


def test_stream_session_rollup_matches_batch_sessionize(spark, tmp_path):
    """The native session_window streaming aggregate must reproduce the
    batch sessionize/session_rollup segmentation (gaps chosen off the
    merge-boundary grid — the documented strict-< vs <= difference).
    Sessions close only when the watermark passes, so a far-future
    sentinel event flushes the real ones."""
    import datetime

    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from webtext_extraction_spark.operators.relational import session_rollup, sessionize
    from webtext_extraction_spark.streaming.stream import stream_session_rollup

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            # event-time watermarks require TIMESTAMP (not NTZ); the
            # UTC-pinned session makes naive datetimes == UTC wall time
            StructField("ts", TimestampType()),
        ]
    )
    t0 = datetime.datetime(2024, 1, 1)
    sec = lambda s: t0 + datetime.timedelta(seconds=s)
    # user 1: sessions {0,1} (gap 10 s), {2,3} after a 100-s gap;
    # user 2: one 3-event session.  gap threshold 30 s, no gap == 30.
    rows = [
        (1, 0, sec(0)),
        (1, 1, sec(10)),
        (1, 2, sec(110)),
        (1, 3, sec(125)),
        (2, 10, sec(5)),
        (2, 11, sec(15)),
        (2, 12, sec(25)),
    ]
    inp = str(tmp_path / "sess_in")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    # one file per micro-batch (coalesce): multi-part writes would
    # scatter events across triggers in mtime order and the watermark
    # would drop the stragglers as late
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(inp)
    # sentinel far past everything + watermark: flushes all real sessions
    spark.createDataFrame([(99, 999, sec(10_000))], schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    q = stream_session_rollup(
        spark, inp, out, ckpt, schema=schema, gap="30 seconds", watermark="10 seconds"
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
        if r["user_id"] != 99
    }
    # batch truth: session_start = min ts per (key, session_idx)
    batch = spark.createDataFrame(rows, schema)
    sess = sessionize(batch, "user_id", "ts", 30, "event_id")
    expected = {
        (r["user_id"], r["start"]): r["n"]
        for r in sess.groupBy("user_id", "session_idx")
        .agg(F.min("ts").alias("start"), F.count("*").alias("n"))
        .collect()
    }
    assert got == expected
    assert len(got) == 3
    # rollup counts agree too
    roll = {
        (r["user_id"], r["session_idx"]): r["n_events"]
        for r in session_rollup(batch, "user_id", "ts", 30, "event_id").collect()
    }
    assert sorted(roll.values()) == sorted(got.values())


def test_stream_session_rollup_restart_no_duplicates(spark, tmp_path):
    """Restarting the session query with the same checkpoint must not
    re-emit closed sessions (file-sink commit log), and later files
    keep extending/closing sessions correctly."""
    import datetime

    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from webtext_extraction_spark.streaming.stream import stream_session_rollup

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = datetime.datetime(2024, 1, 1)
    sec = lambda s: t0 + datetime.timedelta(seconds=s)
    inp = str(tmp_path / "sr_in")
    out = str(tmp_path / "sr_out")
    ckpt = str(tmp_path / "sr_ckpt")
    spark.createDataFrame(
        [(1, 0, sec(0)), (1, 1, sec(10))], schema
    ).coalesce(1).write.mode("append").parquet(inp)
    spark.createDataFrame([(7, 70, sec(5_000))], schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    q = stream_session_rollup(
        spark, inp, out, ckpt, schema=schema, gap="30 seconds", watermark="10 seconds"
    )
    q.awaitTermination(300)
    first = [
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    ]
    assert (1, sec(0), 2) in first

    # restart: a new user session + a later sentinel; the old closed
    # session must not re-emit
    spark.createDataFrame(
        [(2, 20, sec(6_000)), (2, 21, sec(6_005))], schema
    ).coalesce(1).write.mode("append").parquet(inp)
    spark.createDataFrame([(7, 71, sec(20_000))], schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    q2 = stream_session_rollup(
        spark, inp, out, ckpt, schema=schema, gap="30 seconds", watermark="10 seconds"
    )
    q2.awaitTermination(300)
    rows = [
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    ]
    assert rows.count((1, sec(0), 2)) == 1  # no duplicate emission
    assert (2, sec(6_000), 2) in rows


def test_stream_quality_gate_matches_batch_and_restarts(spark, tmp_path):
    """Stateless gate twin: stream output equals batch quality_gate
    row-for-row; a restart over new files appends exactly the new
    docs' verdicts (no duplicates, no re-emission)."""
    from webtext_extraction_spark.operators.textstats import quality_gate
    from webtext_extraction_spark.streaming.stream import stream_quality_gate

    inp = str(tmp_path / "qg_in")
    out = str(tmp_path / "qg_out")
    ckpt = str(tmp_path / "qg_ckpt")

    def _docs(lo, hi):
        return spark.createDataFrame(
            [
                (i, ("word%d " % i) * (i % 9) + "the end", "en", "s", 0)
                if i % 5
                else (i, None, "en", "s", 0)
                for i in range(lo, hi)
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    kw = dict(min_words=4, max_dup_word_frac=0.5)
    _docs(0, 30).write.mode("overwrite").parquet(inp)
    q = stream_quality_gate(spark, inp, out, ckpt, **kw)
    q.awaitTermination(300)
    streamed = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    batch = sorted(
        tuple(r)
        for r in quality_gate(
            spark.read.parquet(inp), "doc_id", "text", **kw
        ).collect()
    )
    assert streamed == batch and len(batch) == 30

    # new files arrive; restart drains ONLY them through the same ckpt
    _docs(30, 45).write.mode("append").parquet(inp)
    q2 = stream_quality_gate(spark, inp, out, ckpt, **kw)
    q2.awaitTermination(300)
    streamed2 = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    batch2 = sorted(
        tuple(r)
        for r in quality_gate(
            spark.read.parquet(inp), "doc_id", "text", **kw
        ).collect()
    )
    assert streamed2 == batch2 and len(batch2) == 45


def test_stream_decontaminate_bloom_matches_batch(spark, tmp_path):
    """Bloom decontamination twin: stream output equals the batch
    operator row-for-row (bench is static, contamination is per-doc);
    restart over newly arrived files appends only the new docs."""
    from webtext_extraction_spark.operators.membership import (
        decontaminate_bloom,
    )
    from webtext_extraction_spark.streaming.stream import (
        read_stream_output,
        stream_decontaminate_bloom,
    )

    inp = str(tmp_path / "dc_in")
    out = str(tmp_path / "dc_out")
    ckpt = str(tmp_path / "dc_ckpt")
    bench = spark.createDataFrame(
        [(1, "the secret benchmark question about quantum flux capacitors "
             "appears here verbatim")],
        "qid long, text string",
    )

    def _docs(lo, hi):
        rows = []
        for i in range(lo, hi):
            t = "ordinary document %d with plenty of ordinary words in it " \
                "going on for a while" % i
            if i % 7 == 0:
                t += (" the secret benchmark question about quantum flux"
                      " capacitors appears here verbatim")
            rows.append((i, t, "en", "s", 0))
        return spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    _docs(0, 25).write.mode("overwrite").parquet(inp)
    q = stream_decontaminate_bloom(spark, inp, out, ckpt, bench, n=8)
    q.awaitTermination(300)
    streamed = sorted(
        tuple(r) for r in read_stream_output(spark, out).collect()
    )
    batch = sorted(
        tuple(r)
        for r in decontaminate_bloom(
            spark.read.parquet(inp), bench, "doc_id", "text", n=8
        ).collect()
    )
    assert streamed == batch and len(batch) == 25
    contaminated = {t[0] for t in streamed if t[-1]}
    assert contaminated == {0, 7, 14, 21}

    _docs(25, 40).write.mode("append").parquet(inp)
    q2 = stream_decontaminate_bloom(spark, inp, out, ckpt, bench, n=8)
    q2.awaitTermination(300)
    streamed2 = sorted(
        tuple(r) for r in read_stream_output(spark, out).collect()
    )
    batch2 = sorted(
        tuple(r)
        for r in decontaminate_bloom(
            spark.read.parquet(inp), bench, "doc_id", "text", n=8
        ).collect()
    )
    assert streamed2 == batch2 and len(batch2) == 40


def test_stream_wet_ingest_matches_batch(spark, tmp_path):
    """Streaming WET intake equals the batch reader row-for-row over
    the same segments; new segments arriving drain exactly once."""
    import os

    from webtext_extraction_spark.functions.text import (
        domain_of,
        portable_hash64,
    )
    from webtext_extraction_spark.sources.wet import open_wet
    from webtext_extraction_spark.streaming.stream import stream_wet_ingest

    inp = str(tmp_path / "wet_stream_in")
    out = str(tmp_path / "wet_stream_out")
    ckpt = str(tmp_path / "wet_stream_ckpt")
    os.makedirs(inp)

    def _segment(name, lo, hi):
        recs = [
            "WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: http://s{i % 3}.test/p/{i}\r\n"
            "WARC-Date: 2025-01-01T00:00:00Z\r\n"
            f"WARC-Record-ID: <urn:uuid:r{i}>\r\n"
            f"Content-Length: 10\r\n\r\ndoc body {i}"
            for i in range(lo, hi)
        ]
        open(os.path.join(inp, name), "w").write("\r\n\r\n".join(recs))

    def _batch():
        wet = open_wet(spark, inp)
        return sorted(
            tuple(r)
            for r in wet.select(
                portable_hash64(
                    F.coalesce(F.col("record_id"), F.col("url"), F.lit(""))
                ).alias("doc_id"),
                "text",
                "url",
                domain_of(F.col("url")).alias("source"),
            ).collect()
        )

    _segment("seg0.wet", 0, 10)
    q = stream_wet_ingest(spark, inp, out, ckpt)
    q.awaitTermination(300)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == _batch() and len(got) == 10
    assert all(r[3] in ("s0.test", "s1.test", "s2.test") for r in got)

    _segment("seg1.wet", 10, 16)
    q2 = stream_wet_ingest(spark, inp, out, ckpt)
    q2.awaitTermination(300)
    got2 = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got2 == _batch() and len(got2) == 16
