"""spark-submit entry point for the extraction job.

Cluster usage (north rule: multi-executor, N and 4N):

    zip -r engine.zip webtext_extraction_spark/
    spark-submit --py-files engine.zip \\
        --num-executors $N --executor-cores 4 \\
        jobs/run_extract.py \\
        --input <parquet-or-iceberg path/table> \\
        --output /data/extracted \\
        --num-buckets 512 --rules site_rules.json

Config precedence (reference analogue W:1758-1789: CLI > config.ini >
default): CLI args > spark conf > defaults.  The job is resumable:
re-running with the same --output skips lineage-committed buckets.
The job's last stdout line is its summary as one JSON object
(``buckets_done``, ``rows``).  The write stage runs 2 tasks per core
(at least one per remaining bucket), whatever --num-buckets is.
UDF batches take the engine's one size, ``session.ARROW_BATCH_ROWS``
rows; Spark's 64 MB ``maxBytesPerBatch`` bounds those of multi-MB pages.
On an Iceberg deployment, --input takes a table identifier and the
scan becomes ``spark.read.format("iceberg").load(...)`` — everything
downstream is unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain `python jobs/run_extract.py` (no --py-files): make the engine
# importable on the driver AND in executor python workers.  Must run
# before the SparkSession launches the JVM (workers inherit the env).
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)


def main(argv=None):
    parser = argparse.ArgumentParser(description="webtext extraction job")
    parser.add_argument("--input", required=False, help="transcripts parquet path")
    parser.add_argument("--output", required=True)
    parser.add_argument("--num-buckets", type=int, default=64)
    parser.add_argument("--buckets-per-commit", type=int, default=None)
    parser.add_argument("--synth-convs", type=int, default=None,
                        help="synthesize transcripts instead of --input")
    parser.add_argument("--rules", default=None,
                        help="JSON file of per-site selector overrides "
                             "(domain -> [selectors]); broadcast to executors")
    parser.add_argument("--input-snapshot", default=None,
                        help="input version id recorded in lineage rows")
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession

    from webtext_extraction_spark.session import ARROW_BATCH_ROWS

    # executor-side tuning that must hold regardless of cluster defaults,
    # set on a session of its own: the caller's session conf is untouched
    spark = SparkSession.builder.appName("webtext-extract").getOrCreate().newSession()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    if args.synth_convs:
        from webtext_extraction_spark.sources.transcripts import synth_transcripts

        transcripts = synth_transcripts(spark, num_conversations=args.synth_convs)
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        parser.error("one of --input / --synth-convs is required")

    site_rules = None
    if args.rules:
        from webtext_extraction_spark import rules as rules_mod

        site_rules = dict(rules_mod.DOMAIN_SELECTORS)
        with open(args.rules, encoding="utf-8") as fh:
            site_rules.update(json.load(fh))

    from webtext_extraction_spark.plans.lineage import run_extraction

    summary = run_extraction(
        spark,
        transcripts,
        args.output,
        num_buckets=args.num_buckets,
        buckets_per_commit=args.buckets_per_commit,
        input_snapshot=args.input_snapshot or (args.input or "synth"),
        site_rules=site_rules,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
