"""Structured-Streaming surface for incremental extraction.

The reference is strictly batch (SURVEY.md §2.10) — this module is
engine-added surface: the same extraction operator applied to a
stream of transcript files (the shape an Iceberg incremental read or
a Kafka transcript feed would take).  Three tiers:

- ``stream_extract`` — stateless lift of the batch pandas UDF
  (extraction is per-turn, so no state store is needed);
- ``stream_quality_gate`` — stateless lift of the Gopher rule battery
  over a documents stream (one projection: batch ≡ stream
  row-for-row);
- ``stream_decontaminate_bloom`` — per-micro-batch benchmark
  decontamination against a static bench (per-doc semantics, so
  foreachBatch runs the batch operator verbatim: batch ≡ stream);
- ``stream_wet_ingest`` — Common Crawl WET segments parsed as they
  land, written documents-shaped (same expressions as the batch
  reader: batch ≡ stream);
- ``stream_status_rollup`` — event-time windowed A6 metrics with a
  watermark: late rows beyond the watermark are dropped, closed
  windows emit exactly once (append mode);
- ``stream_conversation_state`` — applyInPandasWithState: running
  per-conversation counters that survive across micro-batches via the
  checkpointed state store (the custom-stateful-operator shape);
- ``stream_training_pairs`` — applyInPandasWithState: incremental
  (prompt, completion) training-pair assembly, the streaming twin of
  ``operators.conversations.conversation_pairs`` — per-conversation
  rolling context (last k role-tagged turns, JSON in the state store)
  emits a pair the moment an assistant turn arrives, across
  micro-batch boundaries and restarts;
- ``stream_session_rollup`` — Spark's NATIVE ``session_window``
  aggregate: idle-gap sessions over an unbounded stream, state-store
  window merging, watermark-closed exactly-once emission — the
  streaming twin of ``operators.relational.session_rollup``.

Exactly-once: the stateless/windowed queries use the parquet file
sink's commit log directly; the foreachBatch stateful queries write
each micro-batch to its own ``batch_<id>`` subdirectory with
overwrite (``_start_idempotent_append``) so a batch replayed after a
crash between data write and checkpoint commit overwrites itself
instead of appending duplicates (in production the same hook is an
Iceberg MERGE keyed on batch id).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from webtext_extraction_spark.operators.extraction import TRANSCRIPT_SCHEMA, extract_turns

# the documents-table shape (TESTDATA.md) — the stream the corpus
# operators' stateless twins read
DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_quality_gate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    schema: StructType | None = None,
    **gate_kwargs,
) -> StreamingQuery:
    """Stateless streaming lift of ``textstats.quality_gate``: a
    document stream is gated micro-batch by micro-batch — the
    operator is ONE projection (zero shuffle, zero state), so no
    watermark or state store is involved and the stream output equals
    the batch output row-for-row over the same files (pinned by
    tests/test_streaming.py).  ``gate_kwargs`` pass through to the
    batch operator.  NOTE: a join back to the source for the full doc
    row would be a stream-stream join (illegal without watermarks) —
    callers wanting payloads join the sink against the source table
    batch-side on doc_id, the read_stream_output pattern."""
    from webtext_extraction_spark.operators.textstats import quality_gate

    stream = (
        spark.readStream.schema(schema or DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    gated = quality_gate(stream, "doc_id", "text", **gate_kwargs)
    writer = (
        gated.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_wet_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming Common Crawl ingestion: WET segments landing in
    ``input_dir`` are parsed and written as documents-shaped parquet
    (doc_id, text, url, source) as they arrive — the live-crawl
    intake that feeds every batch operator downstream.  Record
    splitting and header parsing are the SAME column expressions as
    the batch reader (``sources/wet.parse_wet_records`` over a
    lineSep-delimited text stream), so batch ≡ stream row-for-row;
    doc_id is the portable md5 of the record id (url fallback) —
    stable across engines and re-runs, so downstream incremental
    dedup (minhash_lsh_pairs_incremental) keys on it directly."""
    from webtext_extraction_spark.functions.text import (
        domain_of,
        portable_hash64,
    )
    from webtext_extraction_spark.sources.wet import (
        WET_RECORD_DELIM,
        parse_wet_records,
    )

    raw = (
        spark.readStream.option("lineSep", WET_RECORD_DELIM)
        .option("maxFilesPerTrigger", 8)
        .text(input_dir)
    )
    docs = (
        parse_wet_records(raw)
        .filter(F.coalesce(F.col("warc_type"), F.lit("")) != "warcinfo")
        .select(
            portable_hash64(
                F.coalesce(F.col("record_id"), F.col("url"), F.lit(""))
            ).alias("doc_id"),
            F.col("text"),
            F.col("url"),
            domain_of(F.col("url")).alias("source"),
        )
    )
    writer = (
        docs.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_decontaminate_bloom(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    bench: DataFrame,
    n: int = 8,
    m_words: int = 4096,
    k: int = 5,
    available_now: bool = True,
    schema=None,
) -> StreamingQuery:
    """Streaming benchmark decontamination: a documents stream is
    checked against a STATIC benchmark corpus micro-batch by
    micro-batch.  Contamination is per-document against the fixed
    bench (no cross-document state), so running the batch operator
    (``membership.decontaminate_bloom``) inside ``foreachBatch``
    gives exactly the batch answer row-for-row — the aggregation
    lives inside each batch, where watermarks and state stores don't
    apply.  Writes replay-safe ``batch_<id>`` directories (the
    idempotent-append contract; read with :func:`read_stream_output`).

    The Bloom sketch rebuilds per micro-batch from ``bench`` —
    eval-suite-scale by the operator's design; for a huge reference
    set, persist the sketch once with ``bloom_build`` and inline a
    probe-only variant."""
    from webtext_extraction_spark.operators.membership import (
        decontaminate_bloom,
    )

    stream = (
        spark.readStream.schema(schema or DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    _write_layout_marker(spark, output_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = decontaminate_bloom(
            batch_df, bench, "doc_id", "text", n=n, m_words=m_words, k=k
        )
        out.write.mode("overwrite").parquet(
            f"{output_dir}/batch_{batch_id:08d}"
        )

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """readStream(parquet) → extract → writeStream(parquet, append).

    ``available_now=True`` drains everything currently present and
    stops (micro-batch catch-up mode); False runs continuously.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    extracted = extract_turns(stream)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_status_rollup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """A6 metrics rollup as an event-time windowed streaming aggregate:
    per (ts-window, status) row counts + output bytes.

    ``withWatermark`` bounds the state store (a window's state is
    dropped once the watermark passes its end) and defines lateness:
    rows older than watermark are discarded, so append mode emits each
    closed window exactly once — the standard late-data contract the
    reference's batch counters cannot express."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    extracted = extract_turns(stream)
    agg = (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "status")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.length("extracted_text")).alias("bytes_out"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "status",
            "rows",
            "bytes_out",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


CONV_STATE_OUTPUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turns_seen", LongType()),
        StructField("bytes_seen", LongType()),
    ]
)

CONV_STATE_SCHEMA = StructType(
    [
        StructField("turns", LongType()),
        StructField("bytes", LongType()),
    ]
)


def _conv_state_fn(key, pdf_iter, state: GroupState):
    """Running per-conversation totals across micro-batches — the state
    row lives in the checkpointed state store, so totals accumulate
    across restarts too."""
    turns, nbytes = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        turns += len(pdf)
        nbytes += int(pdf["text"].fillna("").str.len().sum())
    state.update((turns, nbytes))
    yield pd.DataFrame(
        {"conv_id": [key[0]], "turns_seen": [turns], "bytes_seen": [nbytes]}
    )


def stream_session_rollup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming twin of ``relational.session_rollup``: per-key
    idle-gap sessions over an unbounded event stream, built on Spark's
    NATIVE ``session_window`` aggregate — the state store merges
    windows as events arrive, the watermark closes a session once no
    event can extend it, and append mode emits each closed session
    exactly once (parquet sink commit log).

    Boundary semantics, pinned: ``session_window`` MERGES two events
    when their gap is strictly < the gap duration, while the batch
    operator merges at gap <= gap_seconds — the two differ only when a
    gap equals the threshold exactly (document/choose thresholds off
    the grid; the equivalence test uses non-boundary gaps).

    A session older than the watermark may never emit until a later
    event advances event time past ``session_end + watermark`` — the
    standard flush contract (tests append a far-future sentinel).
    Event-time watermarks require a TIMESTAMP column (Spark rejects
    TIMESTAMP_NTZ here); NTZ sources cast first — lossless under the
    UTC-pinned session (session.py).

    Output: (key, session_start, session_end, n_events) — session_end
    is the last event's ts + gap (Spark's window-close time), not the
    last event itself; duration consumers subtract the gap.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"),
            F.col(key_col),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_LAYOUT_NOTE = (
    "Idempotent streaming sink layout (NOT a flat parquet directory):\n"
    "each micro-batch lands in its own batch_<id>/ subdirectory so a\n"
    "replayed batch overwrites its own previous output.  Read with\n"
    "webtext_extraction_spark.streaming.read_stream_output(spark, dir)\n"
    "or spark.read.parquet(dir + '/batch_*').\n"
)


def read_stream_output(spark, output_dir: str) -> DataFrame:
    """Read an idempotent-append stream sink (ADVICE r03: the on-disk
    layout is per-batch ``batch_<id>`` subdirectories, NOT a flat
    parquet dir — ``spark.read.parquet(output_dir)`` without the glob
    would fail on the ``_LAYOUT`` marker / nested dirs)."""
    return spark.read.parquet(output_dir + "/batch_*")


def _write_layout_marker(spark, output_dir: str) -> None:
    """Drop a ``_LAYOUT`` README marker in the sink root so external
    consumers of an existing flat-layout dir get a visible signal of
    the per-batch layout (ADVICE r03).  Hadoop FS API: works on any
    supported filesystem, not just local paths.

    Advisory, not load-bearing (ADVICE r04): the Hadoop FS handle
    rides the classic-mode py4j gateway (``spark._jvm``), which Spark
    Connect sessions don't expose — there (or on any FS error) the
    marker is skipped and stream startup proceeds."""
    if getattr(spark, "_jvm", None) is None or getattr(spark, "_jsc", None) is None:
        return
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(output_dir)
        fs = root.getFileSystem(conf)
        fs.mkdirs(root)
        out = fs.create(jvm.org.apache.hadoop.fs.Path(output_dir + "/_LAYOUT"), True)
        try:
            out.write(bytearray(_LAYOUT_NOTE, "utf-8"))
        finally:
            out.close()
    except Exception:
        # marker write must never fail a stream start
        return


def _start_idempotent_append(
    df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool,
    output_mode: str = "append",
) -> StreamingQuery:
    """foreachBatch parquet sink with REPLAY-SAFE writes: each
    micro-batch lands in its own ``batch_<id>`` subdirectory with
    mode=overwrite, so a batch reprocessed after a crash between the
    data write and the checkpoint commit OVERWRITES its own previous
    output instead of appending duplicates (plain ``mode('append')``
    to one directory re-emits the batch on such a restart —
    foreachBatch bypasses the file sink's commit log).  Read the
    output with :func:`read_stream_output` (or
    ``spark.read.parquet(output_dir + "/batch_*")``); a ``_LAYOUT``
    marker in the sink root documents the layout on disk."""
    _write_layout_marker(df.sparkSession, output_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{output_dir}/batch_{batch_id:08d}")

    writer = (
        df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


PAIRS_OUTPUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", LongType()),
        StructField("prompt", StringType()),
        StructField("completion", StringType()),
        StructField("n_context", LongType()),
    ]
)

# the rolling context is a JSON array of role-tagged lines: text can
# contain any separator (including newlines), so a delimited string
# state would be ambiguous — JSON keeps it injective
PAIRS_STATE = StructType([StructField("ctx_json", StringType())])


def _make_pairs_state_fn(completion_role: str, context_turns: int):
    import json

    def _fn(key, pdf_iter, state: GroupState):
        ctx: list[str] = json.loads(state.get[0]) if state.exists else []
        out_conv, out_idx, out_prompt, out_compl, out_n = [], [], [], [], []
        # the group's rows arrive as MULTIPLE Arrow chunks with
        # arbitrary within-group order — a per-chunk sort would
        # interleave wrongly across chunk boundaries, so concatenate
        # first.  na_position='first' matches Spark orderBy NULLS FIRST
        # in the batch operator's window.
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            whole = pd.concat(chunks, ignore_index=True).sort_values(
                "turn_idx", na_position="first"
            )
            for row in whole.itertuples(index=False):
                text = row.text if isinstance(row.text, str) else ""
                role = row.role if isinstance(row.role, str) else None
                if role == completion_role:
                    window = ctx[-context_turns:]
                    out_conv.append(key[0])
                    out_idx.append(None if pd.isna(row.turn_idx) else int(row.turn_idx))
                    out_prompt.append("\n".join(window))
                    out_compl.append(row.text)
                    out_n.append(len(window))
                # concat_ws semantics: a NULL role drops out entirely
                # (line is just the text), NULL text renders as ''
                ctx.append(text if role is None else f"{role}: {text}")
        ctx = ctx[-context_turns:]
        state.update((json.dumps(ctx),))
        if out_conv:
            yield pd.DataFrame(
                {
                    "conv_id": out_conv,
                    "turn_idx": out_idx,
                    "prompt": out_prompt,
                    "completion": out_compl,
                    "n_context": out_n,
                }
            )

    return _fn


def stream_training_pairs(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    completion_role: str = "assistant",
    context_turns: int = 4,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming (prompt, completion) assembly — emits a training pair
    the moment a ``completion_role`` turn arrives, with the prompt
    built from the conversation's last ``context_turns`` turns EVEN
    when those turns arrived in earlier micro-batches (the rolling
    context lives in the checkpointed state store, so assembly also
    survives query restarts).

    Matches ``conversations.conversation_pairs`` row-for-row on an
    in-order replay of the same transcripts (pinned by
    tests/test_streaming.py); the batch operator's window frame
    becomes a per-key rolling list here.  State per conversation is
    bounded: k role-tagged lines, independent of conversation length.
    """
    if context_turns < 1:
        raise ValueError(f"context_turns must be >= 1, got {context_turns}")
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    pairs = stream.groupBy("conv_id").applyInPandasWithState(
        _make_pairs_state_fn(completion_role, context_turns),
        outputStructType=PAIRS_OUTPUT,
        stateStructType=PAIRS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    return _start_idempotent_append(pairs, output_dir, checkpoint_dir, available_now)


def stream_conversation_state(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-conversation running turn/byte counters emitted as an update
    stream.

    ``max_files_per_trigger=1`` forces one micro-batch per input file
    so cross-batch state accumulation is actually exercised.  The sink
    is foreachBatch (checkpoint-recoverable, unlike the memory sink):
    each micro-batch's update rows append to ``output_dir``; in
    production the same hook MERGEs into a keyed Iceberg table / Kafka
    compacted topic.  The state store itself lives in
    ``checkpoint_dir``, so totals survive query restarts."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    updates = stream.groupBy("conv_id").applyInPandasWithState(
        _conv_state_fn,
        outputStructType=CONV_STATE_OUTPUT,
        stateStructType=CONV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    return _start_idempotent_append(
        updates, output_dir, checkpoint_dir, available_now, output_mode="update"
    )
