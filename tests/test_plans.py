"""Physical-plan audits: the plans we claim are the plans Spark runs.

Asserts over .explain output: filter/column pushdown into the parquet
scan, broadcast joins where we broadcast, no cartesian products in the
LSH pipelines, exactly one Arrow UDF stage in extraction.
"""

import re

import pytest
from pyspark.sql import functions as F

from webtext_extraction_spark.operators import dedup, similarity, textstats
from webtext_extraction_spark.operators.extraction import extract_turns
from webtext_extraction_spark.sources.transcripts import synth_transcripts


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _n_arrow_stages(plan: str) -> int:
    import re

    # formatted explain mentions each node twice (tree + details):
    # count distinct node ids
    return len(set(re.findall(r"ArrowEvalPython \((\d+)\)", plan)))


def test_scan_pushdown_through_extraction(spark, tmp_path):
    path = str(tmp_path / "t")
    synth_transcripts(spark, num_conversations=10).write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("conv_id") == "conv000003")
    out = extract_turns(df).select("conv_id", "extracted_text")
    plan = _plan(out)
    # the conv_id predicate reaches the parquet scan
    assert "PushedFilters" in plan
    assert "conv000003" in plan or "IsNotNull(conv_id)" in plan
    # exactly one Arrow-batched python stage, on the scan splits: the
    # extraction plan never shuffles its payload
    assert _n_arrow_stages(plan) == 1
    assert "Exchange" not in plan


def test_column_pruning_drops_payload(spark, tmp_path):
    path = str(tmp_path / "t2")
    synth_transcripts(spark, num_conversations=10).write.parquet(path)
    df = spark.read.parquet(path).select("conv_id", "turn_idx")
    plan = _plan(df)
    # a 2-column projection must not read the payload column
    assert "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_cosine_topk_broadcasts_queries(spark):
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(4)]) for i in range(30)],
        ["vec_id", "embedding"],
    )
    plan = _plan(similarity.cosine_topk(emb, query_ids=[0], k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_minhash_lsh_has_no_cartesian_product(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i} common tokens here") for i in range(20)], ["doc_id", "text"]
    )
    plan = _plan(dedup.minhash_lsh_pairs(docs, "doc_id", "text", 8, 4, 0.1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # equi-join on (band,bucket)


def _node_details(plan: str, node: str) -> list[str]:
    """The detail blocks ("(<id>) <node> ..." up to the next blank
    line) of every ``node`` in a formatted plan."""
    return [b for b in plan.split("\n\n") if re.match(rf"\(\d+\) {node}\b", b.strip())]


def _detail_line(block: str, prefix: str) -> str:
    return next(line for line in block.splitlines() if line.startswith(prefix))


_FENCED_SCANS = {
    "minhash_lsh_pairs": lambda docs: dedup.minhash_lsh_pairs(docs, "doc_id", "text", 8, 4, 0.1),
    "bm25_topk": lambda docs: textstats.bm25_topk(
        docs, "doc_id", "text",
        docs.sparkSession.createDataFrame([(0, "common tokens")], ["query_id", "query_text"]),
    ),
    "repetition_profile": lambda docs: textstats.repetition_profile(docs, "doc_id", "text"),
    "containment_pairs": lambda docs: dedup.containment_pairs(docs, "doc_id", "text"),
}


@pytest.mark.parametrize("op", sorted(_FENCED_SCANS))
def test_scan_filter_is_rlike_not_tokenize(spark, tmp_path, op):
    """The zero-token guard reaches the scan as ``text RLIKE '\\S'``
    only.  A size(tokens) > 0 guard (written or inferred from an
    explode) would re-run the split/md5 tokenize inside the pushed
    scan filter."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"w{i} common tokens here and there") for i in range(20)], ["doc_id", "text"]
    ).write.parquet(path)
    plan = _plan(_FENCED_SCANS[op](spark.read.parquet(path)))
    scan_filters = [
        _detail_line(b, "Condition")
        for b in _node_details(plan, "Filter")
        if re.search(r"\btext#", _detail_line(b, "Condition"))
    ]
    assert scan_filters
    for cond in scan_filters:
        assert "RLIKE" in cond, cond
        for fn in ("md5(", "transform(", "split("):
            assert fn not in cond, cond


def test_minhash_jaccard_threshold_stays_above_join(spark, tmp_path):
    """The explode barrier keeps the Jaccard threshold in a Filter
    above the candidate join: pushed into the join condition, the
    array_intersect would run before the cheap band/id predicates."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"w{i} common tokens here") for i in range(20)], ["doc_id", "text"]
    ).write.parquet(path)
    plan = _plan(dedup.minhash_lsh_pairs(spark.read.parquet(path), "doc_id", "text", 8, 4, 0.1))
    joins = _node_details(plan, r"\w*Join")
    assert len(joins) == 1
    join_id = int(re.match(r"\((\d+)\)", joins[0].strip()).group(1))
    assert "array_intersect" not in _detail_line(joins[0], "Join condition")
    thresholds = [
        int(re.match(r"\((\d+)\)", b.strip()).group(1))
        for b in _node_details(plan, "Filter")
        if re.search(r"jaccard#\d+ >= 0\.1", _detail_line(b, "Condition"))
    ]
    # formatted explain numbers nodes children-first: above = larger id
    assert thresholds and all(t > join_id for t in thresholds)


def test_pipeline_auto_skips_shuffle_when_no_skew(spark):
    """An in-memory batch with one warm conversation (10× the turns of
    every other) still extracts on its own splits: the plan is
    ArrowEvalPython over the rows with no Exchange below or above it."""
    rows = [(f"c{i}", 0, "user", "x" * 1000, "fetch", None) for i in range(99)]
    rows += [("warm", t, "user", "y" * 1000, "fetch", None) for t in range(10)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    plan = _plan(extract_turns(df))
    assert _n_arrow_stages(plan) == 1
    assert "Exchange" not in plan  # extraction is shuffle-free


def test_ivf_cell_plan_grows_linearly_in_k(spark):
    """The IVF argmin is one distance array, linear in k: doubling the
    centroids at most ~doubles the analyzed plan.  A running-best
    ``when(closer, …).otherwise(best)`` fold embeds the best twice per
    centroid and doubles the plan with every centroid."""
    df = spark.createDataFrame(
        [(i, [float(i + j) for j in range(4)]) for i in range(8)], ["vec_id", "embedding"]
    )

    def analyzed_len(k):
        centroids = [[float(c * j) for j in range(4)] for c in range(k)]
        out = similarity.with_ivf_cell(df, centroids)
        return len(out._jdf.queryExecution().analyzed().toString())

    assert analyzed_len(8) <= 2.5 * analyzed_len(4)


def test_boilerplate_ngrams_partial_aggregation(spark, tmp_path):
    """explode → groupBy must keep the map-side partial aggregate
    (two HashAggregate nodes) and prune unused columns from the scan."""
    path = str(tmp_path / "bp")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta", i) for i in range(20)],
        ["doc_id", "text", "extra_col"],
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    plan = _plan(dedup.boilerplate_ngrams(docs, "doc_id", "text", n=3, min_docs=2))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "CartesianProduct" not in plan
    assert "extra_col" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_connected_components_no_cartesian(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(5)], ["node"])
    plan = _plan(dedup.connected_components(pairs, nodes, max_iterations=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extraction_keeps_status_filter_jvm_side(spark, tmp_path):
    path = str(tmp_path / "t3")
    synth_transcripts(spark, num_conversations=5).write.parquet(path)
    out = extract_turns(spark.read.parquet(path))
    # the failure/error status filter render_extracted applies (F5/F6)
    # is a plain Filter over the UDF output — one python stage only,
    # filter evaluated JVM-side
    plan = _plan(out.filter(~F.col("status").isin("failure_template", "error_pattern")))
    assert _n_arrow_stages(plan) == 1


def _node_ids(plan: str, node: str) -> int:
    # the tree line is "<node> [<table>] (<id>)" — the optional table
    # identifier (empty for path reads → double space) sits between
    import re as _re

    return len(set(_re.findall(rf"{node}[^\n(]*\((\d+)\)", plan)))


def test_repetition_profile_single_payload_scan(spark, tmp_path):
    """All gram sizes must come from ONE scan of the text column — a
    per-n union would rescan the 100 TB payload once per gram size."""
    from webtext_extraction_spark.operators.textstats import repetition_profile

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(8)], ["doc_id", "text"]
    ).write.parquet(p)
    plan = _plan(repetition_profile(spark.read.parquet(p), "doc_id", "text"))
    assert _node_ids(plan, "Scan parquet") == 1


def test_repetition_profile_sorts_once_per_row_below_its_lambdas(spark, tmp_path):
    """repetition_profile is row-local: no Exchange.  The sorted gram
    arrays are made in a Project of their own, and the Generate whose
    lambdas index them reads them as attributes; a Filter on a metric
    stays above that Generate.  Inlined into a lambda, the sort would
    re-run once per element."""
    from webtext_extraction_spark.operators.textstats import (
        REPETITION_SIGNALS,
        repetition_profile,
        with_signals,
    )

    p = str(tmp_path / "docs_rep_sort")
    spark.createDataFrame(
        [(i, "a b c a b c d e %d" % i) for i in range(8)], ["doc_id", "text"]
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    gated = with_signals(docs, "text", REPETITION_SIGNALS).filter(
        F.col("dup_word_char_frac") <= 0.8
    )
    for df in (repetition_profile(docs, "doc_id", "text"), gated):
        plan = _plan(df)
        assert _node_ids(plan, "Exchange") == 0
        sorting = [b for b in plan.split("\n\n") if "sort_array(" in b]
        assert sorting and all(re.match(r"\(\d+\) Project\b", b.strip()) for b in sorting)
        (generate,) = _node_details(plan, "Generate")
        assert "lambdafunction" in generate and "_rp_s1" in generate


def test_run_curate_row_local_gates_join_and_shuffle_nothing(spark, tmp_path):
    """The row-local gates of run_curate (lang/quality, Gopher battery,
    repetition, PII scrub) join nothing and shuffle nothing: curate()
    only builds the plan, and main splits the source.  They tokenize
    each document once and count its stopwords once: the steps share
    one word column and its stopword count, and every Filter reads
    fenced signal columns, not a copy of the tokenize or of the lambdas
    over it.  The lang/quality gate alone computes no BPE count and no
    fingerprint: only what a Filter reads is fenced, and the rest is
    pruned."""
    from jobs import run_curate

    p = str(tmp_path / "docs_curate")
    spark.createDataFrame(
        [(i, "the cat sat on the mat %d u@x.com" % i) for i in range(8)], ["doc_id", "text"]
    ).write.parquet(p)
    args = run_curate.parse_args(
        [
            "--input", p, "--output", str(tmp_path / "unused"),
            "--lang", "en", "--min-quality", "0.6", "--gopher-gate",
            "--max-dup-frac", "0.8", "--scrub-pii",
        ]
    )
    out = run_curate.curate(spark.read.parquet(p), args)
    plan = _plan(out)
    assert "Join" not in plan
    assert _node_details(plan, "Exchange") == []
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(") == 1, optimized
    assert optimized.count("lower(") == 1, optimized
    filters = [line for line in optimized.splitlines() if re.match(r"[\s:+-]*Filter\b", line)]
    assert len(filters) >= 3, optimized
    for cond in filters:
        assert "split(" not in cond and "lambdafunction" not in cond, cond

    lang_args = run_curate.parse_args(
        ["--input", p, "--output", str(tmp_path / "unused"), "--lang", "en", "--min-quality", "0.6"]
    )
    lang_only = run_curate.curate(spark.read.parquet(p), lang_args)
    optimized = lang_only._jdf.queryExecution().optimizedPlan().toString()
    # regexp_count is rewritten to size(regexp_extract_all(...)) here
    for pruned in ("regexp_count(", "regexp_extract_all(", "aggregate("):
        assert pruned not in optimized, (pruned, optimized)


# the name of every row-local signal: one that no Filter or output
# reads must not appear in the plan
_SIGNAL_NAMES = set(
    textstats.PROFILE_SIGNALS + textstats.GATE_SIGNALS + textstats.REPETITION_SIGNALS
)


@pytest.mark.parametrize(
    "flags, read, absent",
    [
        ("--lang en", {"lang_pred", "quality"}, ("array_distinct(", "aggregate(")),
        ("--min-quality 0.6", {"lang_pred", "quality"}, ("array_distinct(", "aggregate(")),
        ("--gopher-gate", set(textstats.GATE_SIGNALS), ("ぁ", r"[^\w\s]")),
        ("--max-dup-frac 0.8", {"dup_word_char_frac"}, ("array_distinct(", "regexp", "lower(")),
    ],
)
def test_run_curate_single_gate_computes_only_what_it_reads(spark, tmp_path, flags, read, absent):
    """Under one row-local flag, the optimized plan of run_curate holds
    exactly the signals its Filter or its output reads, and none of
    the expressions of the others: no BPE count (``regexp_count``,
    rewritten to ``regexp_extract_all``) anywhere, no gram sort
    outside the repetition gate, and that gate sorts the words only
    (one ``sort_array``)."""
    from jobs import run_curate

    p = str(tmp_path / "docs_one_gate")
    spark.createDataFrame(
        [(i, "the cat sat on the mat %d" % i) for i in range(8)], ["doc_id", "text"]
    ).write.parquet(p)
    args = run_curate.parse_args(["--input", p, "--output", "unused"] + flags.split())
    out = run_curate.curate(spark.read.parquet(p), args)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert {name for name in _SIGNAL_NAMES if name in optimized} == read, optimized
    for expr in ("regexp_count(", "regexp_extract_all(") + absent:
        assert expr not in optimized, (expr, optimized)
    assert optimized.count("sort_array(") == ("dup_word_char_frac" in read), optimized


def test_curate_corpus_v2_sorts_the_words_once(spark, tmp_path):
    """The curate_corpus_v2 entry query filters on lang_pred, quality
    and dup_word_char_frac: its plan sorts the words once and sorts no
    gram array."""
    import __spark_entry__ as entry

    spark.createDataFrame(
        [(i, "the cat sat on the mat and the cat sat %d" % (i % 7)) for i in range(0, 500, 5)],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = entry._q_curate_corpus_v2(spark, str(tmp_path))
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("sort_array(") == 1, optimized


def test_decontaminate_broadcasts_bench_and_never_shuffles_payload(spark, tmp_path):
    """Bench gram set broadcast; the only Exchange carries the tiny
    (doc_id, counters) aggregate — the payload never shuffles."""
    from webtext_extraction_spark.operators.contamination import decontaminate

    p = str(tmp_path / "docs2")
    spark.createDataFrame(
        [(i, "w x y z q r s t u v") for i in range(8)], ["doc_id", "text"]
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = _plan(decontaminate(docs, docs, "doc_id", "text", n=4))
    assert _node_ids(plan, "BroadcastExchange") >= 1
    # no Exchange may carry the text column
    import re as _re

    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_sample_mix_is_shuffle_free(spark, tmp_path):
    from webtext_extraction_spark.operators.textstats import sample_mix

    p = str(tmp_path / "docs3")
    spark.createDataFrame(
        [(i, "src%d" % (i % 3)) for i in range(9)], ["doc_id", "source"]
    ).write.parquet(p)
    plan = _plan(sample_mix(spark.read.parquet(p), "doc_id", "source", {"src0": 0.5}))
    assert _node_ids(plan, "Exchange") == 0
    assert _node_ids(plan, "ArrowEvalPython") == 0  # pure column expressions


def test_conversation_digest_shuffles_digests_not_payloads(spark, tmp_path):
    """The groupBy(conv) aggregate must shuffle (idx, md5) structs —
    the text column itself stays out of every Exchange."""
    from webtext_extraction_spark.operators.conversations import conversation_digest

    p = str(tmp_path / "convs")
    spark.createDataFrame(
        [("c%d" % (i % 3), i, "payload text %d" % i) for i in range(9)],
        ["conv_id", "turn_idx", "text"],
    ).write.parquet(p)
    plan = _plan(conversation_digest(spark.read.parquet(p)))
    import re as _re

    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_pack_sequences_has_no_single_partition_exchange(spark):
    """The 100 TB killer shape would be `Exchange SinglePartition` +
    a global-sort Window; the range-partitioned formulation must show
    neither — running sums run per range partition, and the only
    exchanges are the pid/bin_id hash shuffles + the broadcast offset
    map."""
    from webtext_extraction_spark.operators.textstats import pack_sequences

    df = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(50)], ["doc_id", "text"]
    )
    plan = _plan(pack_sequences(df, "doc_id", "text", budget=10, num_partitions=4))
    assert "SinglePartition" not in plan
    assert _node_ids(plan, "Window") >= 1  # the per-partition running sum is real


def _span_removal_docs(spark, tmp_path):
    p = str(tmp_path / "docs_span_removal")
    spark.createDataFrame(
        [(i, "follow us on line %d of %d" % (i, i % 3)) for i in range(12)],
        ["doc_id", "text"],
    ).write.parquet(p)
    grams = spark.createDataFrame([("follow us on",), ("us on line",)], ["ngram"])
    return spark.read.parquet(p), grams


def test_remove_boilerplate_keeps_text_out_of_exchanges(spark, tmp_path):
    """remove_boilerplate shuffles ids, positions and gram hashes: the
    text column never enters an Exchange, with the grams detected inline
    or supplied, and a supplied gram table joins as a broadcast."""
    docs, grams = _span_removal_docs(spark, tmp_path)
    supplied = _plan(dedup.remove_boilerplate(docs, "doc_id", "text", n=3, grams=grams))
    inline = _plan(dedup.remove_boilerplate(docs, "doc_id", "text", n=3, min_docs=2))
    for plan in (supplied, inline):
        assert _node_ids(plan, "Exchange") >= 1
        for m in re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, re.S):
            assert "text#" not in m.group(0)
    gram_joins = [
        m.group(0)
        for m in re.finditer(r"\(\d+\) \w*Join\b.*?(?=\n\(\d+\)|\Z)", supplied, re.S)
        if "ngram#" in m.group(0)
    ]
    assert gram_joins and all(j.split()[1] == "BroadcastHashJoin" for j in gram_joins)


def test_span_removal_builds_without_running_a_job(spark, tmp_path):
    """Building the span-removal plans, and run_curate's plan under
    --dedup substring, launches no Spark job: every step is lazy."""
    from jobs import run_curate

    docs, grams = _span_removal_docs(spark, tmp_path)
    args = run_curate.parse_args(
        ["--input", "unused", "--output", "unused", "--dedup", "substring"]
    )
    builds = {
        "inline": lambda: dedup.remove_boilerplate(docs, "doc_id", "text", n=3, min_docs=2),
        "supplied": lambda: dedup.remove_boilerplate(docs, "doc_id", "text", n=3, grams=grams),
        "spans": lambda: dedup.remove_duplicate_spans(docs, "doc_id", "text", n=3),
        "curate": lambda: run_curate.curate(docs, args),
    }
    sc = spark.sparkContext
    for name, build in builds.items():
        sc.setJobGroup(f"build:{name}", "plan build")
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup(f"build:{name}") == [], name


def test_scrub_pii_is_shuffle_free_pure_expressions(spark, tmp_path):
    from webtext_extraction_spark.operators.privacy import scrub_pii

    p = str(tmp_path / "docs_pii")
    spark.createDataFrame(
        [(i, "text %d u@x.com" % i) for i in range(8)], ["doc_id", "text"]
    ).write.parquet(p)
    plan = _plan(scrub_pii(spark.read.parquet(p), "doc_id", "text"))
    assert _node_ids(plan, "Exchange") == 0
    assert _node_ids(plan, "ArrowEvalPython") == 0  # JVM regexes, no Python


def test_unigram_logprob_shuffles_hashes_not_text(spark, tmp_path):
    """The LM-score shuffles carry (hash, count/logprob) — the text
    column itself stays out of every Exchange."""
    import re as _re

    from webtext_extraction_spark.operators.textstats import (
        unigram_frequencies,
        unigram_logprob,
    )

    p = str(tmp_path / "docs_lm")
    spark.createDataFrame(
        [(i, "w%d common words here" % (i % 3)) for i in range(9)],
        ["doc_id", "text"],
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    out = unigram_logprob(docs, "doc_id", "text", freqs=unigram_frequencies(docs, "text"))
    plan = _plan(out)
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_sessionize_single_exchange_shared_sort(spark, tmp_path):
    """The lag window and the running-sum window share partitioning and
    order — the plan must have exactly ONE Exchange (the key hash) and
    ONE Sort, not one per window."""
    from webtext_extraction_spark.operators.relational import sessionize

    p = str(tmp_path / "evts")
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i % 3, i, t0 + datetime.timedelta(seconds=i)) for i in range(30)],
        "user_id long, event_id long, ts timestamp_ntz",
    ).write.parquet(p)
    plan = _plan(sessionize(spark.read.parquet(p), "user_id", "ts", 5, "event_id"))
    assert _node_ids(plan, "Exchange") == 1
    assert _node_ids(plan, "Sort") == 1


def test_group_percentiles_single_exchange(spark, tmp_path):
    """Rank-window percentiles: ONE hash Exchange (the final boundary
    aggregate reuses the window's partitioning — hash(_g) already
    clusters (_g, p)), ONE Sort, and the NULL-value filter pushed into
    the parquet scan."""
    from webtext_extraction_spark.operators.textstats import group_percentiles

    p = str(tmp_path / "pctl")
    spark.createDataFrame(
        [("g%d" % (i % 3), float(i)) for i in range(60)], "g string, v double"
    ).write.parquet(p)
    plan = _plan(group_percentiles(spark.read.parquet(p), "g", "v"))
    assert _node_ids(plan, "Exchange") == 1
    assert _node_ids(plan, "Sort") == 1
    assert "IsNotNull(v)" in plan  # pushed to the scan


def test_global_percentiles_no_single_partition_exchange(spark, tmp_path):
    """Whole-corpus percentiles must never plan `Exchange
    SinglePartition` (the one-task global sort the operator exists to
    avoid) — ranks come from range partitions + driver offsets."""
    from webtext_extraction_spark.operators.textstats import global_percentiles

    p = str(tmp_path / "gpctl")
    spark.createDataFrame(
        [(float(i),) for i in range(200)], "v double"
    ).write.parquet(p)
    plan = _plan(
        global_percentiles(spark.read.parquet(p), "v", [0.5, 0.9], num_partitions=4)
    )
    assert "SinglePartition" not in plan


def test_asof_join_single_exchange_no_join_node(spark, tmp_path):
    """asof_join is the merge-join formulation: union both sides, ONE
    hash Exchange on the key, ONE Sort, a running-last Window — and no
    join operator at all (the naive range-join would plan a
    BroadcastNestedLoopJoin, quadratic per key)."""
    import datetime

    from webtext_extraction_spark.operators.relational import asof_join

    t0 = datetime.datetime(2024, 1, 1)
    lp, rp = str(tmp_path / "asof_l"), str(tmp_path / "asof_r")
    spark.createDataFrame(
        [(i, i % 3, t0 + datetime.timedelta(seconds=i)) for i in range(30)],
        "eid long, k long, ts timestamp_ntz",
    ).write.parquet(lp)
    spark.createDataFrame(
        [(i, i % 3, t0 + datetime.timedelta(seconds=i * 2)) for i in range(10)],
        "rid long, k long, ts timestamp_ntz",
    ).write.parquet(rp)
    plan = _plan(
        asof_join(
            spark.read.parquet(lp), spark.read.parquet(rp), "k", "ts", "ts", ["rid"]
        )
    )
    assert _node_ids(plan, "Exchange") == 1
    assert _node_ids(plan, "Sort") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_chunk_documents_is_shuffle_free(spark, tmp_path):
    from webtext_extraction_spark.operators.textstats import chunk_documents

    p = str(tmp_path / "docs_ck")
    spark.createDataFrame(
        [(i, "some words repeated here %d" % i) for i in range(10)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(chunk_documents(spark.read.parquet(p), "doc_id", "text", 4, 1))
    assert _node_ids(plan, "Exchange") == 0
    assert _node_ids(plan, "ArrowEvalPython") == 0


def test_duplicate_spans_shuffles_hashes_not_text(spark, tmp_path):
    """Occurrence counting and coverage shuffles carry hashed grams and
    positions — the text column never enters an Exchange."""
    import re as _re

    from webtext_extraction_spark.operators.dedup import duplicate_spans

    p = str(tmp_path / "docs_ds")
    spark.createDataFrame(
        [(i, "shared run of words plus tail %d" % i) for i in range(10)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(duplicate_spans(spark.read.parquet(p), "doc_id", "text", n=4))
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_hashed_bow_embedding_two_int_shuffles_no_text(spark, tmp_path):
    """The feature-hashing bridge shuffles only (id, bucket, sum) int
    rows — the text column never enters an Exchange, and there is no
    Python node anywhere (pure JVM expressions)."""
    import re as _re

    from webtext_extraction_spark.operators.similarity import hashed_bow_embedding

    p = str(tmp_path / "docs_hbe")
    spark.createDataFrame(
        [(i, "some words for doc %d" % i) for i in range(10)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(hashed_bow_embedding(spark.read.parquet(p), "text", "doc_id", dim=16))
    assert _node_ids(plan, "Exchange") == 2
    assert _node_ids(plan, "ArrowEvalPython") == 0
    assert _node_ids(plan, "BatchEvalPython") == 0
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_corpus_diff_projects_hashes_before_join(spark, tmp_path):
    """Snapshot diff joins 36-byte (id, md5) projections — the text
    column never enters the full-outer-join Exchanges."""
    import re as _re

    from webtext_extraction_spark.operators.dedup import corpus_diff

    p = str(tmp_path / "docs_cd")
    spark.createDataFrame(
        [(i, "text %d" % i) for i in range(10)], ["doc_id", "text"]
    ).write.parquet(p)
    old = spark.read.parquet(p)
    new = spark.read.parquet(p)
    plan = _plan(corpus_diff(old, new, "doc_id", "text"))
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_hll_tfidf_inverted_index_no_python_no_text_shuffle(spark, tmp_path):
    """The three r5 corpus-statistics operators stay pure-JVM (no
    Python nodes) and never put the text column into an Exchange —
    only keys/terms/ints ride the shuffles."""
    import re as _re

    from webtext_extraction_spark.operators.textstats import (
        cms_sketch,
        hll_cardinality,
        inverted_index,
        tfidf_top_terms,
    )

    p = str(tmp_path / "docs_stats")
    spark.createDataFrame(
        [(i, "word%d common text here" % i, "s%d" % (i % 2)) for i in range(20)],
        ["doc_id", "text", "source"],
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    for frame in (
        hll_cardinality(docs, "text", ["source"]),
        tfidf_top_terms(docs, "doc_id", "text", k=2),
        inverted_index(docs, "doc_id", "text"),
        cms_sketch(docs, "text", depth=4, width=64),
    ):
        plan = _plan(frame)
        assert _node_ids(plan, "ArrowEvalPython") == 0
        assert _node_ids(plan, "BatchEvalPython") == 0
        for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
            assert "text#" not in m.group(0)


def test_token_entropy_shuffles_hashes_not_text(spark, tmp_path):
    """Both aggregation shuffles carry (id, token-hash, count) — the
    text column itself never enters an Exchange."""
    import re as _re

    from webtext_extraction_spark.operators.textstats import token_entropy

    p = str(tmp_path / "docs_ent")
    spark.createDataFrame(
        [(i, "w%d common words here" % (i % 3)) for i in range(9)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(token_entropy(spark.read.parquet(p), "doc_id", "text"))
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_bigram_logprob_shuffles_hashes_not_text(spark, tmp_path):
    """The model groupBy and both scoring joins move (h1, h12,
    counts) — 16-byte keys, never the text column."""
    import re as _re

    from webtext_extraction_spark.operators.textstats import (
        bigram_frequencies,
        bigram_logprob,
    )

    p = str(tmp_path / "docs_blm")
    spark.createDataFrame(
        [(i, "w%d common words here w%d" % (i % 3, i % 2)) for i in range(9)],
        ["doc_id", "text"],
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    out = bigram_logprob(
        docs, "doc_id", "text", model=bigram_frequencies(docs, "text")
    )
    plan = _plan(out)
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_shuffle_corpus_no_single_partition_exchange(spark, tmp_path):
    """The global shuffle position must come from range partitions +
    driver offsets — never an `Exchange SinglePartition` global-sort
    task; only (id, ticket) rows ride the range shuffle."""
    from webtext_extraction_spark.operators.textstats import shuffle_corpus

    p = str(tmp_path / "docs_shuf")
    spark.createDataFrame(
        [(i, "payload %d" % i) for i in range(200)], ["doc_id", "text"]
    ).write.parquet(p)
    out = shuffle_corpus(spark.read.parquet(p), "doc_id", num_partitions=4)
    plan = _plan(out)
    assert "SinglePartition" not in plan
    assert "text#" not in plan  # payload column pruned before the shuffle


def test_quality_gate_zero_shuffle_pure_expressions(spark, tmp_path):
    """quality_gate is ONE projection over the scan: no Exchange, no
    Python, single parquet scan — the pushdown-composable shape its
    docstring claims."""
    from webtext_extraction_spark.operators.textstats import quality_gate

    p = str(tmp_path / "docs_qg")
    spark.createDataFrame(
        [(i, "some words here for the gate %d" % i) for i in range(8)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(quality_gate(spark.read.parquet(p), "doc_id", "text"))
    assert _node_ids(plan, "Exchange") == 0
    assert _node_ids(plan, "ArrowEvalPython") == 0
    assert _node_ids(plan, "Scan parquet") == 1


def test_bm25_corpus_side_never_sort_merges(spark, tmp_path):
    """bm25_topk reaches the corpus tf table through BROADCAST joins
    only — a sort-merge there would shuffle the whole posting list on
    term strings."""
    from webtext_extraction_spark.operators.textstats import bm25_topk

    p = str(tmp_path / "docs_bm25")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta word%d" % (i % 4)) for i in range(12)],
        ["doc_id", "text"],
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    qs = spark.createDataFrame(
        [(1, "alpha gamma"), (2, "beta word1")],
        ["query_id", "query_text"],
    )
    plan = _plan(bm25_topk(docs, "doc_id", "text", qs, k=3))
    assert _node_ids(plan, "SortMergeJoin") == 0
    assert _node_ids(plan, "BroadcastHashJoin") >= 2
    assert _node_ids(plan, "CartesianProduct") == 0


def test_bpe_pairs_explode_over_vocabulary_not_corpus(spark, tmp_path):
    """bpe_merge_candidates aggregates word frequencies BEFORE the
    pair explode (the Generate sits above the first HashAggregate in
    the tree, i.e. has a smaller node id in formatted explain), and
    the text column stays out of every Exchange."""
    import re as _re

    from webtext_extraction_spark.operators.textstats import (
        bpe_merge_candidates,
    )

    p = str(tmp_path / "docs_bpe")
    spark.createDataFrame(
        [(i, "lower newest wider low%d" % (i % 3)) for i in range(9)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(bpe_merge_candidates(spark.read.parquet(p), "text"))
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)
    # pair Generate consumes the word-frequency aggregate's output
    # (vocabulary), not the raw corpus: scan -> agg -> generate order
    gen_ids = [int(i) for i in _re.findall(r"Generate[^\n(]*\((\d+)\)", plan)]
    agg_ids = [int(i) for i in _re.findall(r"HashAggregate[^\n(]*\((\d+)\)", plan)]
    assert gen_ids and agg_ids
    # formatted-explain ids grow leaf -> root: at least one aggregate
    # (the word-frequency one) runs BELOW the pair Generate
    assert min(agg_ids) < max(gen_ids)


def test_pmi_bigrams_text_stays_out_of_exchanges(spark, tmp_path):
    import re as _re

    from webtext_extraction_spark.operators.textstats import pmi_bigrams

    p = str(tmp_path / "docs_pmi")
    spark.createDataFrame(
        [(i, "new york new york city hall %d" % i) for i in range(9)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(pmi_bigrams(spark.read.parquet(p), "text", min_count=1))
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)
    assert _node_ids(plan, "CartesianProduct") == 0
