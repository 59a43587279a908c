"""The Spark pipeline reproduces the committed e2e golden table
byte-for-byte under stable (conv_id, turn_idx) ordering — the
cross-round regression gate (FIXTURES.md §2)."""

import pathlib

import pandas as pd
from pyspark.sql import functions as F

from webtext_extraction_spark.plans.pipeline import extraction_pipeline
from webtext_extraction_spark.sources.transcripts import synth_transcripts

GOLDEN = pathlib.Path(__file__).parent / "goldens" / "e2e.parquet"


def test_pipeline_matches_committed_golden(spark):
    golden = pd.read_parquet(GOLDEN).sort_values(["conv_id", "turn_idx"]).reset_index(
        drop=True
    )
    n_convs = int(golden["conv_id"].str.slice(4).astype(int).max()) + 1

    transcripts = synth_transcripts(spark, num_conversations=n_convs)
    out = (
        extraction_pipeline(transcripts, num_partitions=9)
        .select("conv_id", "turn_idx", "extracted_text", "strategy")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    assert len(out) == len(golden)
    assert (out["conv_id"] == golden["conv_id"]).all()
    assert (out["turn_idx"] == golden["turn_idx"]).all()
    mism = out["extracted_text"] != golden["extracted_text"]
    assert not mism.any(), out[mism].head()
    # status differs only where the batch upgrades ok→error_pattern
    assert (out["strategy"] == golden["strategy"]).all()
