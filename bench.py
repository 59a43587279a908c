"""Benchmark harness — one JSON line on stdout.

Headline metric: extraction throughput (turns/sec) over a synthetic
transcripts table derived deterministically from the fixture archetype
pool, sized by scale factor (sf0.1 → ~46k turns of multi-KB payloads).
Also times the non-extraction operator suite (dedup / similarity /
text-stats) on the driver-provided parquet tables.

Env:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    (default 32)
  BENCH_CONVS         override conversation count

Output: {"metric": ..., "value": total_sec, "unit": "sec",
         "queries": {name: sec}, "sf": ..., "turns": N,
         "turns_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def build_transcripts(spark, sf: float, override: int | None = None):
    from webtext_extraction_spark.sources.transcripts import synth_transcripts

    # sf0.1 → 14000 conversations ≈ 91k turns; linear in sf.  The bench
    # profile mixes realistic-size (~10-20 KB) article pages with the
    # golden archetype pool — real pages are 10-500 KB; the ~1 KB
    # golden pages exist for test readability, not realism.  Sized so
    # the extraction leg runs long enough (>10 s at 32 cores) that
    # fixed stage-scheduling overhead stops dominating turns/sec.
    n_conv = override if override else max(200, int(140000 * sf))
    return synth_transcripts(spark, num_conversations=n_conv, profile="bench")


# Clean-band HIGHS per leg at the driver config (sf0.1, 32 cores) from
# the BENCH/BASELINE.md run record (r3/r4 clean samples).  A best-of-2
# leg landing above 2× its band high is re-run once more and the whole
# sample list is reported in bench_note — the one-shot driver record
# then carries its own drift evidence instead of needing a fresh
# session to disprove a trough (VERDICT r04 #8).
BAND_HI = {
    "hot_key_detect": 2.0,
    "extract_pipeline": 8.0,
    "dedup_minhash_lsh_first300": 2.0,
    "dedup_simhash": 1.5,
    "text_profile": 1.5,
    "sim_cosine_topk": 1.5,
    "sim_lsh_ann_topk": 2.0,
}


def run_once(cores: int, sf_dir: str, sf: float, convs: int | None = None,
             ops: bool = True) -> dict:
    from webtext_extraction_spark.operators import dedup, similarity, textstats
    from webtext_extraction_spark.plans.pipeline import extraction_pipeline
    from webtext_extraction_spark.session import get_spark

    spark = get_spark(app_name=f"bench-{cores}", cores=cores)
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    leg_fns: dict = {}

    from webtext_extraction_spark.operators.extraction import extract_turns
    from webtext_extraction_spark.operators.partitioning import (
        probe_payload_stats,
        salted_repartition,
        source_splits,
    )

    transcripts = build_transcripts(spark, sf, convs)
    transcripts = transcripts.persist()
    n_turns = transcripts.count()  # materialize input outside the timed region

    # warm python workers (module imports) before the timed region — a
    # real cluster amortizes worker startup over hours-long jobs; a
    # seconds-long benchmark must not measure pandas import time
    warmup = extract_turns(transcripts.limit(512))
    warmup.agg(F.sum(F.length("extracted_text"))).collect()

    def best_of(name, fn, attempts=2):
        # every leg best-of-N with the sample list kept: single samples
        # on this host catch multi-second hypervisor-steal spikes
        # (observed a 3.6 s leg report 14 s with identical code)
        vals = []
        for _ in range(attempts):
            t0 = time.time()
            fn()
            vals.append(time.time() - t0)
        samples[name] = vals
        leg_fns[name] = fn
        return min(vals)

    # phase 1: the flagship's auto skew probe (sampled JVM-only scan of
    # two tiny columns — plans/pipeline.extraction_pipeline "auto").
    # best-of-2 like the extraction leg: the first cache read after
    # materialization occasionally eats a GC pause (observed 2.5-7.5 s
    # for the same work)
    box: dict = {}

    def probe():
        box["hot"] = probe_payload_stats(transcripts, sample_fraction=0.1)["hot_keys"]

    timings["hot_key_detect"] = best_of("hot_key_detect", probe)
    hot = box["hot"]

    # phase 2 — CONDITIONAL: the salted repartition is bought only when
    # the probe actually finds hot keys (it doesn't on this corpus:
    # max/mean conv bytes ≈ 3× < skew_factor 8).  At 100 TB the
    # unconditional variant was a 100 TB shuffle; see VERDICT r01.
    src = transcripts
    if hot:
        t0 = time.time()
        src = salted_repartition(transcripts, 3 * cores, hot_keys=hot).persist()
        src.count()
        timings["salted_shuffle"] = time.time() - t0

    # phase 3: the extraction operator — the headline turns/sec, on
    # scan/cache partitions directly (the auto plan's no-skew path).
    # forced through an aggregate over the UDF output: a bare count()
    # lets Catalyst prune the (deterministic) pandas UDF away entirely
    def run_extract():
        box["agg"] = extract_turns(src).agg(
            F.count("*").alias("n"),
            F.sum(F.length("extracted_text")).alias("bytes_out"),
            F.countDistinct("status").alias("n_status"),
        ).collect()[0]

    timings["extract_pipeline"] = best_of("extract_pipeline", run_extract)
    assert box["agg"]["n"] == n_turns

    if not ops:
        if src is not transcripts:
            src.unpersist()
        transcripts.unpersist()
        spark.stop()
        return {
            "turns": n_turns,
            "timings": timings,
            "turns_per_sec": n_turns / timings["extract_pipeline"],
        }

    docs = source_splits(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    emb = source_splits(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))

    # the synthetic word-soup corpus is DEGENERATE for LSH: most doc
    # pairs genuinely exceed jaccard 0.7, so candidate verification is
    # inherently quadratic here (on real corpora LSH is sub-quadratic
    # because buckets are sparse).  Cap the input and say so in the
    # metric name (no silent caps).
    docs_capped = docs.filter(F.col("doc_id") < 300)
    timings["dedup_minhash_lsh_first300"] = best_of(
        "dedup_minhash_lsh_first300",
        lambda: dedup.minhash_lsh_pairs(
            docs_capped, "doc_id", "text", num_hashes=8, bands=4, jaccard_threshold=0.7
        ).count(),
    )
    timings["dedup_simhash"] = best_of(
        "dedup_simhash",
        lambda: dedup.with_simhash(docs, "text").agg(F.sum("simhash")).collect(),
    )
    timings["text_profile"] = best_of(
        "text_profile",
        lambda: textstats.text_profile(docs, "doc_id", "text")
        .agg(F.sum("fingerprint"), F.sum("ws_tokens"))
        .collect(),
    )
    timings["sim_cosine_topk"] = best_of(
        "sim_cosine_topk",
        lambda: similarity.cosine_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10).count(),
    )
    timings["sim_lsh_ann_topk"] = best_of(
        "sim_lsh_ann_topk",
        lambda: similarity.lsh_ann_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10).count(),
    )

    # band self-check (VERDICT r04 #8): a leg whose best-of-2 lands
    # above 2× its recorded clean band is re-run once and the full
    # sample list reported — the one-shot driver record then carries
    # its own drift evidence.  Bands are only meaningful at the driver
    # config (sf0.1, default sizing).
    bench_note: dict = {}
    if abs(sf - 0.1) < 1e-9 and convs is None:
        for name, hi in BAND_HI.items():
            if name in timings and timings[name] > 2 * hi:
                t0 = time.time()
                leg_fns[name]()
                samples[name].append(time.time() - t0)
                timings[name] = min(timings[name], samples[name][-1])
                bench_note[name] = {
                    "band_hi_sec": hi,
                    "samples_sec": [round(s, 3) for s in samples[name]],
                    "status": (
                        "in_band_after_rerun"
                        if timings[name] <= 2 * hi
                        else "choppy_host_leg"
                    ),
                }

    if src is not transcripts:
        src.unpersist()
    transcripts.unpersist()
    spark.stop()
    return {
        "turns": n_turns,
        "timings": timings,
        "turns_per_sec": n_turns / timings["extract_pipeline"],
        "bench_note": bench_note,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)
    convs = int(os.environ["BENCH_CONVS"]) if "BENCH_CONVS" in os.environ else None

    result = run_once(cores, sf_dir, sf, convs)
    queries = {k: round(v, 3) for k, v in result["timings"].items()}
    total = round(sum(result["timings"].values()), 3)
    out = {
        "metric": "extraction+ops suite wall-clock",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cores": cores,
        "turns": result["turns"],
        "turns_per_sec": round(result["turns_per_sec"], 1),
    }
    if result.get("bench_note"):
        out["bench_note"] = result["bench_note"]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
