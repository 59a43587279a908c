"""Deterministic synthetic transcripts table (FIXTURES.md §1).

The input per BASELINE.json:input_hint is an Iceberg table
(conv_id string, turn_idx int32, role string, text string,
tool string, ts timestamp).  This module synthesizes that table at
any scale, seeded and wall-clock-free, distributing the generation
itself: the driver emits only (conv_id, turn_idx) skeleton ranges and
a pandas UDF materializes payloads executor-side from the archetype
pool, so a 10^12-turn table would generate without a driver bottleneck.

Payload pool: the golden fixture archetypes (tests/fixtures via
fixtures_pages), with deterministic filler drawn from a word list so
dedup/skew paths stay exercised.  ~5% of conversations share hot
domains carrying outsized payloads (FIXTURES.md T04).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from webtext_extraction_spark.fixtures_pages import bench_payload_for, payload_for

PAYLOAD_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("role", StringType()),
    ]
)

_ROLES = ["user", "assistant", "tool"]


_PA_PAYLOAD_TYPE = pa.struct(
    [("text", pa.string()), ("tool", pa.string()), ("role", pa.string())]
)


def _payload_batch(conv_ids: pa.Array, turn_idxs: pa.Array, fn) -> pa.Array:
    # Arrow-native (same shape as the extraction UDF): pa.Array in/out,
    # no pandas Series on either side
    out = []
    for conv_id, turn_idx in zip(conv_ids.to_pylist(), turn_idxs.to_pylist()):
        text, tool = fn(str(conv_id), int(turn_idx))
        out.append({"text": text, "tool": tool, "role": _ROLES[int(turn_idx) % 3]})
    return pa.array(out, type=_PA_PAYLOAD_TYPE)


@F.arrow_udf(PAYLOAD_TYPE)
def payload_udf(conv_ids: pa.Array, turn_idxs: pa.Array) -> pa.Array:
    return _payload_batch(conv_ids, turn_idxs, payload_for)


@F.arrow_udf(PAYLOAD_TYPE)
def bench_payload_udf(conv_ids: pa.Array, turn_idxs: pa.Array) -> pa.Array:
    return _payload_batch(conv_ids, turn_idxs, bench_payload_for)


def synth_transcripts(
    spark: SparkSession,
    num_conversations: int = 200,
    partitions: int | None = None,
    profile: str = "golden",
) -> DataFrame:
    """Build the transcripts DataFrame, fully distributed.

    conv_id = f"conv{i:06d}"; turns per conversation = 1 + (i % 12)
    (contiguous turn_idx); ts = epoch + row_index seconds (monotone,
    deterministic).  Payload archetype is a seeded hash of
    (conv_id, turn_idx) — see fixtures_pages.payload_for.  ``profile``
    picks the pool: ``"golden"`` (the archetype pool) or ``"bench"``
    (fixtures_pages.bench_payload_for); any other value raises
    ``ValueError``.
    """
    gen_udfs = {"golden": payload_udf, "bench": bench_payload_udf}
    if profile not in gen_udfs:
        raise ValueError(f"profile must be one of {sorted(gen_udfs)}, got {profile!r}")
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    skeleton = (
        spark.range(num_conversations, numPartitions=partitions)
        .select(
            F.format_string("conv%06d", F.col("id")).alias("conv_id"),
            (F.col("id") % 12 + 1).cast("int").alias("n_turns"),
            F.col("id").alias("conv_seq"),
        )
        .select(
            "conv_id",
            "conv_seq",
            F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
        )
        .withColumn("turn_idx", F.col("turn_idx").cast("int"))
    )
    skeleton = skeleton.withColumn(
        "ts",
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 00:00:00"), "yyyy-MM-dd HH:mm:ss")
            + F.col("conv_seq") * 12
            + F.col("turn_idx")
        ),
    )
    payloads = skeleton.withColumn(
        "_p", gen_udfs[profile](F.col("conv_id"), F.col("turn_idx"))
    )
    return payloads.select(
        "conv_id",
        "turn_idx",
        F.col("_p.role").alias("role"),
        F.col("_p.text").alias("text"),
        F.col("_p.tool").alias("tool"),
        "ts",
    )


def open_transcripts(
    spark: SparkSession,
    path_or_table: str,
    source_format: str = "parquet",
) -> DataFrame:
    """Open a transcripts table from any supported format, normalized
    to the engine's canonical schema (casting where the format is
    weaker — JSON/CSV carry no int32/timestamp types).

    - ``parquet`` (default): plain directory read; column pruning and
      predicate pushdown apply as usual.
    - ``iceberg``: table identifier via the Iceberg catalog (the
      production path; identical plan downstream).  EXPERIMENTAL in
      this repo: it requires the Iceberg runtime jars, which this
      sandbox cannot fetch — the branch is exercised by the jar-gated
      ``tests/test_iceberg.py`` (marked ``iceberg``), which runs for
      real when the jars are present and skips VISIBLY when not.
    - ``orc``: Spark-native columnar alternative (no extra jars);
      identical fidelity to parquet — types, NULL-vs-empty and control
      characters all survive (pinned by the roundtrip test).
    - ``json`` / ``csv``: migration-path ingestion; schema is enforced
      on read (no runaway inference scans) and columns are cast to the
      canonical types.  CSV caveats (pinned by the roundtrip test):
      the format cannot distinguish an empty string from NULL (empty
      payloads arrive as NULL; the kernel treats both as empty), and
      control characters like NUL do not survive — CSV is for
      text-clean migration data; binary-ish payloads need parquet.
    """
    from webtext_extraction_spark.operators.extraction import TRANSCRIPT_SCHEMA

    if source_format == "parquet":
        df = spark.read.parquet(path_or_table)
    elif source_format == "orc":
        df = spark.read.orc(path_or_table)
    elif source_format == "iceberg":
        df = spark.read.format("iceberg").load(path_or_table)
    elif source_format == "json":
        df = spark.read.schema(TRANSCRIPT_SCHEMA).json(path_or_table)
    elif source_format == "csv":
        df = (
            spark.read.schema(TRANSCRIPT_SCHEMA)
            .option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .csv(path_or_table)
        )
    else:
        raise ValueError(
            f"unsupported transcripts format {source_format!r}; "
            "expected parquet | orc | iceberg | json | csv"
        )
    return df.select(
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        F.col("role").cast("string"),
        F.col("text").cast("string"),
        F.col("tool").cast("string"),
        F.col("ts").cast("timestamp"),
    )
