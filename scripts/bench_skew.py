"""Skew-path payoff measurement: the salted repartition the flagship
buys ONLY under detected skew must actually pay for itself when skew
exists.

Corpus: N normal conversations (4 turns each) + ONE hot conversation
carrying ~half of all turns — the T04 shape (one domain / conversation
dominating bytes).  Every row gets the same ~8 KB HTML payload PLUS a
per-(conv, turn) unique paragraph: constant per-row extraction cost
(isolates *scheduling*, not parsing variance) while defeating the
batch-local duplicate-payload memo.  With a fully-constant payload the
memo extracts each partition's copy ONCE and the hot partition stops
being a straggler at all — good for production (dup-payload skew is
neutralized shuffle-free) but it turns this benchmark into a
measurement of pure shuffle overhead (observed 0.3-0.6× "speedup").
Distinct payloads restore the scenario salting exists for.

Measured at local[K]:
  - unsalted: ``extract_turns(df)`` on the input partitions; the hot
    conversation sits in one partition → straggler-bound wall-clock
  - auto: ``extraction_pipeline(df)``; its sampled probe detects the
    hot key and the salted repartition spreads it over salt buckets →
    balanced waves

Prints one JSON line with both legs' best wall-clocks, their two
samples each, and the speedup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

ARTICLE_HEAD = (
    "<html><head><title>Skew probe article</title></head><body><main>"
    + "".join(
        f"<p>paragraph {i} with enough prose to make extraction do real "
        "work on every row of this benchmark corpus; the quick brown fox "
        "jumps over the lazy dog while partitions drain unevenly.</p>"
        for i in range(40)
    )
)
ARTICLE_TAIL = "</main></body></html>"


def build_skewed(spark, n_normal: int = 1600, hot_turns: int = 6400):
    normal = (
        spark.range(n_normal, numPartitions=8)
        .select(
            F.format_string("conv%06d", F.col("id")).alias("conv_id"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("turn_idx"),
        )
    )
    hot = (
        spark.range(1)
        .select(
            F.lit("convHOT").alias("conv_id"),
            F.explode(F.sequence(F.lit(0), F.lit(hot_turns - 1))).alias("turn_idx"),
        )
    )
    df = normal.unionByName(hot).select(
        "conv_id",
        F.col("turn_idx").cast("int"),
        F.lit("user").alias("role"),
        F.concat(
            F.lit(ARTICLE_HEAD),
            F.format_string(
                "<p>unique marker %s turn %d keeps every payload distinct.</p>",
                F.col("conv_id"),
                F.col("turn_idx"),
            ),
            F.lit(ARTICLE_TAIL),
        ).alias("text"),
        F.lit("fetch").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    # co-locate each conversation (the adversarial-but-realistic layout
    # a conv_id-clustered table gives you): the hot conv = one partition
    return df.repartition(24, "conv_id").persist()


def timed_extract(df, plan):
    t0 = time.time()
    out = plan(df)
    agg = out.agg(
        F.count("*").alias("n"), F.sum(F.length("extracted_text")).alias("b")
    ).collect()[0]
    # salted_repartition is the only xxhash64 partitioning in the plan
    salted = "xxhash64" in out._jdf.queryExecution().toString()
    return time.time() - t0, agg["n"], salted


def main():
    from webtext_extraction_spark.operators.extraction import extract_turns
    from webtext_extraction_spark.plans.pipeline import extraction_pipeline
    from webtext_extraction_spark.session import get_spark

    cores = int(os.environ.get("SKEW_BENCH_CPUS", "8"))
    spark = get_spark(app_name="bench-skew", cores=cores)
    df = build_skewed(spark)
    n = df.count()

    # warm python workers outside the timed region
    extract_turns(df.limit(64)).agg(F.sum(F.length("extracted_text"))).collect()

    results, samples = {}, {}
    for label, plan in (("unsalted", extract_turns), ("auto_salted", extraction_pipeline)):
        secs = []
        for _ in range(2):
            sec, rows, salted = timed_extract(df, plan)
            assert rows == n
            # the auto leg must have found the hot key and salted
            assert salted == (label == "auto_salted"), label
            secs.append(round(sec, 2))
        samples[label] = secs
        results[label] = min(secs)

    print(
        json.dumps(
            {
                "metric": "skew-path payoff (hot conv ≈ half the corpus)",
                "cores": cores,
                "turns": n,
                "unsalted_sec": results["unsalted"],
                "auto_salted_sec": results["auto_salted"],
                "samples_sec": samples,
                "speedup": round(results["unsalted"] / results["auto_salted"], 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
