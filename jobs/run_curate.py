"""spark-submit entry point for the corpus-curation job — the
training-data half of the engine (the extraction half ships as
jobs/run_extract.py):

    zip -r engine.zip webtext_extraction_spark/
    spark-submit --py-files engine.zip \\
        --num-executors $N --executor-cores 4 \\
        jobs/run_curate.py \\
        --input /data/documents --output /data/curated \\
        --lang en --min-quality 0.6 --max-dup-frac 0.8 \\
        --bench /data/benchmarks --dedup neardup --scrub-pii

Input is a documents parquet, or raw Common Crawl WET files with
``--input-format wet`` (sources/wet — deterministic hashed doc_ids,
url-host sources).  Row-local gates read only a doc's own text, so
they are projections and Filters over the scan, with no join:
language/quality, the Gopher/FineWeb rule battery (--gopher-gate) and
repetition (Gopher dup_word_char_frac), each asking
textstats.with_signals for only the signals it filters on or ships, one
tokenization per document between them (textstats module docstring).
Cross-document gates join on the id — a verdict applied as a semi or
anti join never multiplies a repeated id: the
unigram-LM floor, benchmark decontamination (4-gram overlap vs
--bench), near-dup / semantic / exact-dup keepers, substring and
containment dedup, α-temperature mixing of the survivors
(mixing_weights → sample_quota, --mix-budget).  PII scrubbing
(with_scrubbed_pii) projects the surviving text last.  Each row-local
step is the projection behind an operator the driver gate oracles.
Every gate is optional — skip a flag and it never enters the plan.
``main`` splits the source once (partitioning.source_splits), and every
gate reads that one ``docs``; ``curate`` only builds the plan.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)


def parse_args(argv=None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description="corpus curation job")
    parser.add_argument("--input", required=True,
                        help="documents parquet (doc_id, text, ...) or a "
                             "WET directory with --input-format wet")
    parser.add_argument("--input-format", choices=["parquet", "wet"],
                        default="parquet",
                        help="'wet' ingests WARC/WET (Common Crawl) files: "
                             "url/date/text parse into the documents shape "
                             "with a deterministic doc_id (md5 of record-id, "
                             "falling back to url) and source = url host")
    parser.add_argument("--output", required=True)
    parser.add_argument("--id-col", default="doc_id")
    parser.add_argument("--text-col", default="text")
    parser.add_argument("--lang", default=None, help="keep only this lang_pred (e.g. en)")
    parser.add_argument("--min-quality", type=float, default=None)
    parser.add_argument("--max-dup-frac", type=float, default=None,
                        help="Gopher dup_word_char_frac ceiling")
    parser.add_argument("--min-logprob", type=float, default=None,
                        help="unigram-LM mean-logprob floor (CCNet-style; "
                             "model learned on the input corpus)")
    parser.add_argument("--bench", default=None,
                        help="benchmark parquet for decontamination (4-gram overlap)")
    parser.add_argument("--dedup",
                        choices=["none", "exact", "neardup", "semantic",
                                 "substring", "containment"],
                        default="none",
                        help="exact md5 / minhash-LSH+CC keepers drop whole "
                             "docs; 'semantic' clusters by hashed-bow cosine "
                             "(--cosine/--embed-dim) — the text-only "
                             "embedding path; 'substring' instead REWRITES "
                             "text, stripping all-but-first occurrences of "
                             "duplicated --substring-n-gram spans (Lee et "
                             "al.); 'containment' drops docs whose word set "
                             "is fully inside another's (the class Jaccard "
                             "dedup misses)")
    parser.add_argument("--cosine", type=float, default=0.9,
                        help="with --dedup semantic: near-dup cosine threshold")
    parser.add_argument("--embed-dim", type=int, default=64,
                        help="with --dedup semantic: hashed-bow dimensions")
    parser.add_argument("--substring-n", type=int, default=20)
    parser.add_argument("--jaccard", type=float, default=0.7)
    parser.add_argument("--prior-signatures", default=None,
                        help="with --dedup neardup: a minhash_signatures "
                             "parquet from prior runs — candidate pairs "
                             "then require at least one NEW doc "
                             "(crawl-over-crawl incremental dedup; prior "
                             "keepers are never re-litigated)")
    parser.add_argument("--emit-signatures", default=None,
                        help="write this run's minhash_signatures parquet "
                             "here (the artifact the NEXT run passes as "
                             "--prior-signatures)")
    parser.add_argument("--scrub-pii", action="store_true")
    parser.add_argument("--gopher-gate", action="store_true",
                        help="apply textstats.quality_gate (the Gopher/"
                             "FineWeb rule battery; zero-shuffle) with its "
                             "defaults plus the --gate-* overrides below")
    parser.add_argument("--gate-min-words", type=int, default=50)
    parser.add_argument("--gate-max-dup-frac", type=float, default=1.0,
                        help="quality_gate dup_word_frac ceiling (distinct "
                             "from --max-dup-frac's Gopher char-mass rule)")
    parser.add_argument("--mix-budget", type=int, default=None,
                        help="α-temperature downsample the gated survivors "
                             "to ~this many rows (mixing_weights → "
                             "sample_quota; deterministic draw)")
    parser.add_argument("--mix-alpha", type=float, default=0.5)
    parser.add_argument("--mix-group-col", default="source")
    args = parser.parse_args(argv)
    if args.prior_signatures and args.dedup != "neardup":
        parser.error("--prior-signatures requires --dedup neardup")
    return args


def curate(docs, args: argparse.Namespace):
    """The gated corpus, in the order the module docstring lists."""
    from pyspark.sql import functions as F

    from webtext_extraction_spark.operators import contamination, dedup, privacy, textstats

    idc, txt, spark = args.id_col, args.text_col, docs.sparkSession
    # the row-local gates read each doc's own text: projections and
    # Filters over the scan, no id join (a repeated id never meets
    # another copy's verdict)
    out, cols = docs, docs.columns
    if args.lang or args.min_quality is not None:
        signals = ["lang_pred", "quality"]
        out = textstats.with_signals(out, txt, signals)
        cols = cols + signals
        if args.lang:
            out = out.filter(F.col("lang_pred") == args.lang)
        if args.min_quality is not None:
            out = out.filter(F.col("quality") >= args.min_quality)
    if args.gopher_gate:
        out = textstats.with_quality_gate(
            out, txt,
            min_words=args.gate_min_words,
            max_dup_word_frac=args.gate_max_dup_frac,
        ).filter(F.col("passes"))
    if args.max_dup_frac is not None:
        # a zero-word doc has NULL repetition metrics and passes
        out = textstats.with_signals(out, txt, ["dup_word_char_frac"]).filter(
            F.coalesce(F.col("dup_word_char_frac"), F.lit(0.0)) <= args.max_dup_frac
        )
        cols = cols + ["dup_word_char_frac"]
    out = out.select(*cols)

    if args.min_logprob is not None:
        lm = textstats.unigram_logprob(docs, idc, txt).select(idc, "logprob_mean")
        # left join: zero-token docs have no logprob row and PASS, as a
        # zero-word doc passes --max-dup-frac — a fluency floor has nothing
        # to say about an empty doc; the quality gates own degenerate docs
        out = out.join(lm, idc, "left").filter(
            F.col("logprob_mean").isNull()
            | (F.col("logprob_mean") >= args.min_logprob)
        )

    if args.bench:
        bench = spark.read.parquet(args.bench)
        contaminated = (
            contamination.decontaminate(docs, bench, idc, txt, n=4)
            .filter(F.col("contaminated"))
            .select(idc)
        )
        out = out.join(contaminated, idc, "left_anti")

    if args.dedup == "exact":
        dups = dedup.exact_duplicates(docs, idc, txt)
        losers = (
            docs.select(F.md5(F.col(txt)).alias("content_hash"), F.col(idc))
            .join(dups.select("content_hash", "keeper_id"), "content_hash")
            .filter(F.col(idc) != F.col("keeper_id"))
            .select(idc)
        )
        out = out.join(losers, idc, "left_anti")
    elif args.dedup == "substring":
        cleaned = dedup.remove_duplicate_spans(
            docs, idc, txt, n=args.substring_n
        )
        out = out.drop(txt).join(
            cleaned.select(idc, F.col("cleaned_text").alias(txt), "removed_frac"),
            idc,
        )
    elif args.dedup == "neardup":
        if args.prior_signatures:
            # crawl-over-crawl: pairs require >=1 NEW side; cluster
            # resolution runs over new ∪ prior nodes.  A new doc in any
            # cluster CONTAINING a prior node is dropped outright (the
            # prior keeper already ships in the established corpus) —
            # explicitly, not via min-id: --input-format wet assigns
            # md5-hash doc_ids, so a new doc's id can sort below its
            # prior near-duplicate and min-id election alone would
            # wrongly keep it (ADVICE r05).  New-only clusters elect
            # their min-id keeper as usual.
            prior_sigs = spark.read.parquet(args.prior_signatures)
            pairs = dedup.minhash_lsh_pairs_incremental(
                docs, prior_sigs, idc, txt,
                num_hashes=8, bands=4, jaccard_threshold=args.jaccard,
            )
            prior_nodes = prior_sigs.select(F.col(idc).alias("node"))
            nodes = docs.select(F.col(idc).alias("node")).unionByName(prior_nodes)
            comps = dedup.connected_components(pairs, nodes, check_every=2)
            # a keeper is its own component: dropping the tainted ids
            # drops the keeper of every cluster holding a prior node
            tainted = (
                comps.join(prior_nodes, "node", "left_semi")
                .select(F.col("component").alias(idc))
                .distinct()
            )
            keepers = dedup.component_keepers(comps, idc).join(
                tainted, idc, "left_anti"
            )
        else:
            pairs = dedup.minhash_lsh_pairs(
                docs, idc, txt, num_hashes=8, bands=4, jaccard_threshold=args.jaccard
            )
            nodes = docs.select(F.col(idc).alias("node"))
            keepers = dedup.component_keepers(
                dedup.connected_components(pairs, nodes, check_every=2), idc
            )
        out = out.join(keepers, idc, "left_semi")
    elif args.dedup == "containment":
        # drop docs fully CONTAINED in another (word-set containment
        # 1.0 — the quote-page / doc+appendix class Jaccard dedup
        # misses).  Loser rule per pair: the smaller word set; equal
        # sets (the exact-dup class) keep the min id, matching
        # exact_duplicates' keeper convention.  Chains are safe:
        # A ⊂ B ⊂ C drops A and B directly.
        pairs = dedup.containment_pairs(
            docs, idc, txt, threshold=1.0, rare_k=2
        )
        loser = F.when(
            F.col("n_a") < F.col("n_b"), F.col("id_a")
        ).when(
            F.col("n_b") < F.col("n_a"), F.col("id_b")
        ).otherwise(F.greatest("id_a", "id_b"))
        losers = pairs.select(loser.alias(idc)).distinct()
        out = out.join(losers, idc, "left_anti")
    elif args.dedup == "semantic":
        # text-only semantic dedup: hashed-bow vectors (no embeddings
        # table needed) → LSH-bucketed cosine pairs → CC keepers —
        # the sim_text_neardup composition as a production gate
        from webtext_extraction_spark.operators import similarity

        emb = similarity.hashed_bow_embedding(
            docs, txt, idc, dim=args.embed_dim
        )
        pairs = similarity.embedding_near_duplicates(
            emb, id_col=idc, vec_col="embedding",
            threshold=args.cosine, dim=args.embed_dim,
        )
        nodes = docs.select(F.col(idc).alias("node"))
        keepers = dedup.component_keepers(
            dedup.connected_components(pairs, nodes, check_every=2), idc
        )
        out = out.join(keepers, idc, "left_semi")

    if args.mix_budget is not None:
        # α-temperature downsampling of the SURVIVORS (the gated
        # corpus is what gets mixed), before PII scrubbing so the
        # scrubber touches only rows that ship; the quota draw is
        # deterministic, so re-runs select the same rows
        quotas = textstats.mixing_weights(
            out, args.mix_group_col, alpha=args.mix_alpha,
            budget=args.mix_budget,
        )
        pick = textstats.sample_quota(
            out, args.mix_group_col, idc, quotas
        ).select(idc)
        out = out.join(pick, idc, "left_semi")

    if args.scrub_pii:
        out = privacy.with_scrubbed_pii(out, txt).select(
            *(c for c in out.columns if c != txt),
            F.col("scrubbed_text").alias(txt), "n_email", "n_ipv4", "n_phone",
        )
    return out


def _write_counted(df, path: str) -> int:
    """Overwrite ``path`` with ``df`` and return the rows written,
    counted by an Observation on the write itself (no re-read)."""
    from pyspark.sql import Observation, functions as F

    written = Observation("written")
    df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    return written.get["rows"]


def main(argv=None):
    args = parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    from webtext_extraction_spark.operators.partitioning import source_splits

    spark = SparkSession.builder.appName("webtext-curate").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    if args.input_format == "wet":
        # Common Crawl in, documents shape out: deterministic doc_id
        # (portable md5 of the record id, url fallback — stable
        # across runs and engines), source = url host so the
        # per-source gates (mixing, overlap, reports) work untouched
        from webtext_extraction_spark.functions.text import domain_of, portable_hash64
        from webtext_extraction_spark.sources.wet import open_wet

        wet = open_wet(spark, args.input)
        docs = wet.select(
            portable_hash64(
                F.coalesce(F.col("record_id"), F.col("url"), F.lit(""))
            ).alias(args.id_col),
            F.col("text").alias(args.text_col),
            F.col("url"),
            domain_of(F.col("url")).alias("source"),
        )
    else:
        docs = spark.read.parquet(args.input)
    docs = source_splits(docs)
    summary = {"rows": _write_counted(curate(docs, args), args.output)}

    if args.emit_signatures:
        # the artifact the NEXT run passes as --prior-signatures: this
        # run's docs, unioned with the prior artifact when one was
        # given (so the corpus signature table accretes run over run)
        from webtext_extraction_spark.operators.dedup import minhash_signatures

        sigs = minhash_signatures(docs, args.id_col, args.text_col, num_hashes=8)
        if args.prior_signatures:
            sigs = sigs.unionByName(
                spark.read.parquet(args.prior_signatures)
                .select(args.id_col, "ws_hashes", "minhash")
            )
        summary["signatures"] = _write_counted(sigs, args.emit_signatures)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
