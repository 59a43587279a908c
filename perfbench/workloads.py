"""The workloads: one client, one Spark action at a time, local[nproc].

Each run has the same shape:

1. set-up: start the session, warm the Python workers, open the input
   and run the untimed warm-up operations (the cost a user pays before
   the first result; ``setup_s``);
2. the timed closed loop: operations back to back until ``seconds``
   have passed, with wall time, process-tree CPU and peak RSS taken per
   operation;
3. checks of every timed operation's output (a mismatch marks the
   operation failed);
4. with ``trace``: the per-layer measurements (spans, event log,
   replays) and the span dump.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from perfbench import procstat, replay
from perfbench.inputs import bucket_of
from perfbench.trace import Tracer, event_log_counters, group_means

NPROC = len(os.sched_getaffinity(0))
# untimed passes in extract_mixed's set-up: after two, the timed passes
# still got about 15% faster over the next three (the JVM still
# compiling), so faster hosts reached the fast passes within a run and
# slower ones did not
WARM_PASSES = 5
REPEATS = 3  # repetitions of each untimed per-layer probe (median reported)

# the run_curate gate thresholds of the curation probe
# (--lang en --min-quality --gopher-gate --max-dup-frac --dedup exact --scrub-pii)
CURATE_MIN_QUALITY = 0.6
CURATE_MAX_DUP_FRAC = 0.9

_WARM_PAGE = "<html><head><title>warm</title></head><body><main><p>warm</p></main></body></html>"


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def percentile_summary(values: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples beyond it."""
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "p50": statistics.median(vals) if vals else None}
    if n >= 11:
        out["p_high"] = {"pct": (100 * (n - 10)) // n, "value": vals[n - 11]}
    return out


def rows_per_s(ops: list[dict]) -> float:
    """Rows completed over the timed wall time of the operations."""
    return sum(o["rows"] for o in ops) / sum(o["s"] for o in ops)


class Run:
    rows_label = "rows"

    def __init__(self, args, input_dir: str, props: dict, work_dir: str, gen_s: float):
        self.args = args
        self.input_dir = input_dir
        self.props = props
        self.work_dir = work_dir
        self.gen_s = gen_s
        self.scratch = os.path.join(work_dir, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}") if args.trace else None
        self.ops: list[dict] = []
        # untimed probes whose outputs are checked too (ok flags)
        self.probes_ok: list[bool] = []
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.spark = None

    # ---- helpers -------------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def start_session(self) -> None:
        from webtext_extraction_spark.session import get_spark

        extra = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if self.tracer:
            self.event_dir = os.path.join(self.scratch, "events")
            os.makedirs(self.event_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        with self.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                                   cores=NPROC, extra_conf=extra)
        self.layers["session.start_s"] = time.perf_counter() - t0

    def warm_workers(self) -> None:
        """First UDF batch: one tiny extraction task per core, which forks
        the Python workers and imports the kernel in each."""
        from webtext_extraction_spark.operators.extraction import extract_turns

        tiny = self.spark.range(0, NPROC, 1, NPROC).select(
            F.col("id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit(_WARM_PAGE).alias("text"),
            F.lit("fetch").alias("tool"),
        )
        t0 = time.perf_counter()
        self.group("warm_workers:0")
        with self.span("operators.worker_warm"):
            extract_turns(tiny).agg(F.sum(F.length("extracted_text"))).collect()
        self.layers["operators.worker_warm_s"] = time.perf_counter() - t0

    def timed_loop(self, op, after=None) -> None:
        procstat.reset_peaks()
        self.peaks = procstat.PeakRss()
        self.host0 = procstat.host_load()
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            h0 = procstat.host_load()
            c0 = procstat.tree_cpu_s()
            t0 = time.perf_counter()
            self.group(f"{self.op_name}:{i}")
            with self.span(self.op_name):
                rows, out = op(i)
            t1 = time.perf_counter()
            c1 = procstat.tree_cpu_s()
            self.peaks.sample()
            self.ops.append({"s": t1 - t0, "rows": rows, "cpu_s": c1 - c0, "out": out, "ok": True,
                             "steal": procstat.steal_share(h0, procstat.host_load())})
            if after is not None:
                after(i)
            i += 1
        self.host1 = procstat.host_load()

    def _replay_layers(self, batches) -> None:
        rep = replay.layer_replay(self.tracer, batches)
        self.layers.update({
            "replay.ms_per_row": rep["ms_per_row"],
            "html.parse_ms_per_row": rep["html.parse"],
            "kernel.select_ms_per_row": rep["kernel.select"],
            "kernel.decompose_ms_per_row": rep["kernel.decompose"],
            "kernel.cleanup_ms_per_row": rep["kernel.cleanup"],
            "kernel.neardup_ms_per_row": rep["kernel.neardup"],
            "kernel.special_ms_per_row": rep["kernel.special"],
            "kernel.unattributed_ms_per_row": rep["kernel.unattributed"],
            "operators.assembly_ms_per_row": rep["operators.assembly"],
            "operators.memo_hit_share": rep["memo_hit_share"],
        })
        self.detail["replay"] = {"rows": rep["rows"], "memo_hits": rep["memo_hits"],
                                 "batch_rows": self.batch_rows}

    # ---- the run -------------------------------------------------------
    def execute(self) -> dict:
        os.makedirs(self.scratch, exist_ok=True)
        try:
            self.setup()
            self.setup_s = process_age_s() - self.gen_s
            self.timed()
            self.check()
            if self.tracer:
                self.trace_layers()
        finally:
            self.stop()
        if self.tracer:
            self.trace_after_stop()
            self.tracer.dump(os.path.join(self.work_dir, "traces",
                                          f"{self.args.workload}-s{self.args.seed}.jsonl"))
        shutil.rmtree(self.scratch, ignore_errors=True)
        return self.result()

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None

    def result(self) -> dict:
        ops = self.ops
        failed = sum(1 for o in ops if not o["ok"])
        attempted = len(ops) + len(self.probes_ok)
        failed_all = failed + self.probes_ok.count(False)
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "rows_per_s": (rows_per_s(ops), "rows/s"),
            "cpu_ms_per_row": (1000.0 * sum(o["cpu_s"] for o in ops) / sum(o["rows"] for o in ops),
                               "ms"),
            "py_worker_rss_peak_mb": (self.peaks.mb["py_worker"], "MB"),
        }
        # JVM peaks spread too widely between runs of the same code for a
        # bound (G1 heap growth), so the JVM's is a per-layer figure
        self.layers["spark.jvm_rss_peak_mb"] = self.peaks.mb["jvm"]
        self.detail.update({
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": int(bool(self.tracer)),
            "ops_attempted": len(ops),
            "ops_failed": failed,
            "probes_attempted": len(self.probes_ok),
            "probes_failed": self.probes_ok.count(False),
            "op": self.op_name,
            "op_s": percentile_summary([o["s"] for o in ops]),
            "op_s_all": [round(o["s"], 4) for o in ops],
            "rows_per_op": [o["rows"] for o in ops],
            "op_steal_all": [round(o["steal"], 4) for o in ops],
            "rows_label": self.rows_label,
            "setup_phases_s": {k: round(v, 4) for k, v in self.layers.items()
                               if k in ("session.start_s", "operators.worker_warm_s")},
            "gen_s": round(self.gen_s, 3),
            "rss_peak_mb": {k: round(v, 1) for k, v in self.peaks.mb.items()},
            "props": self.props,
            "host": {"loadavg_start": self.host0["loadavg"], "loadavg_end": self.host1["loadavg"],
                     "steal_share": procstat.steal_share(self.host0, self.host1)},
        })
        return {
            "e2e": e2e,
            "layers": self.layers,
            "detail": self.detail,
            "attempted": attempted,
            "failed": failed_all,
            "correct": failed_all == 0 and bool(ops),
        }


class ExtractMixed(Run):
    op_name = "pass"
    rows_label = "turns"

    def _pass(self, df):
        from webtext_extraction_spark.operators.extraction import extract_turns

        return extract_turns(df).agg(
            F.count("*").alias("n"),
            F.sum(F.length("extracted_text")).alias("bytes_out"),
            F.countDistinct("status").alias("n_status"),
            F.sum(replay.spark_digest_expr(F)).alias("digest"),
        ).collect()[0].asDict()

    def setup(self) -> None:
        from webtext_extraction_spark.sources.transcripts import open_transcripts

        self.start_session()
        self.warm_workers()
        self.src = open_transcripts(self.spark, self.input_dir)
        for i in range(WARM_PASSES):
            self.group(f"warm:{i}")
            with self.span("warm"):
                self.warm = self._pass(self.src)

    def timed(self) -> None:
        self.timed_loop(lambda i: (self.props["rows"], self._pass(self.src)))

    def check(self) -> None:
        batch_rows = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        self.batch_rows = batch_rows
        ref = replay.sample_digest(self.input_dir, batch_rows)
        ok_ref = (self.warm["n"] == self.props["rows"]
                  and self.warm["digest"] == ref["digest"].get(0, 0))
        for o in self.ops:
            o["ok"] = ok_ref and o["out"] == self.warm
        self.detail["check"] = {"sample_rows": ref["rows"], "reference_digest": ref["digest"].get(0, 0),
                                "warm_pass": self.warm, "warm_matches_reference": ok_ref}
        self.detail["sample_strategy_mix"] = ref["strategy_mix"]
        self.detail["sample_status_mix"] = ref["status_mix"]

    def trace_layers(self) -> None:
        scan = []
        for i in range(REPEATS):
            self.group(f"scan:{i}")
            t0 = time.perf_counter()
            with self.span("sources.scan"):
                self.src.agg(F.sum(F.length("text"))).collect()
            scan.append(time.perf_counter() - t0)
        arrow = []
        ident = _identity_udf()
        for i in range(REPEATS):
            self.group(f"arrow:{i}")
            t0 = time.perf_counter()
            with self.span("operators.arrow_roundtrip"):
                self.src.select(ident(F.col("text"), F.col("tool")).alias("r")).agg(
                    F.sum(F.length("r.text")), F.count("r.tool")).collect()
            arrow.append(time.perf_counter() - t0)
        self.layers["sources.scan_s"] = statistics.median(scan)
        self.layers["operators.arrow_roundtrip_s"] = statistics.median(arrow) - statistics.median(scan)
        self.batches = replay.file_batches(self.input_dir, self.batch_rows)
        self._replay_layers(self.batches)

    def trace_after_stop(self) -> None:
        spark_rate = rows_per_s(self.ops)
        control = replay.control_rows_per_s(self.batches, NPROC)
        self.layers["trace.rows_per_s"] = spark_rate
        self.layers["control.rows_per_s"] = control
        self.layers["operators.plumbing_share"] = 1.0 - spark_rate / control
        groups = event_log_counters(self.event_dir)
        per_pass = group_means(groups, "pass")
        self.layers["operators.jobs_per_pass"] = per_pass["jobs"]
        self.detail["event_log"] = {"pass": per_pass, "scan": group_means(groups, "scan"),
                                    "arrow": group_means(groups, "arrow")}


def _identity_udf():
    """Arrow UDF that returns its (text, tool) input unchanged: the
    transport cost of the extraction UDF without its body."""
    import pyarrow as pa
    from pyspark.sql.types import StringType, StructField, StructType

    out_type = StructType([StructField("text", StringType()), StructField("tool", StringType())])

    def ident(texts, tools):
        return pa.StructArray.from_arrays([texts, tools], names=["text", "tool"])

    # real types, not the postponed strings this module's annotations become
    ident.__annotations__ = {"texts": pa.Array, "tools": pa.Array, "return": pa.Array}
    return F.arrow_udf(out_type)(ident).asNondeterministic()


class CommitResume(Run):
    op_name = "commit"
    rows_label = "turns committed"

    def _commit(self, out_dir: str) -> dict:
        from webtext_extraction_spark.plans.lineage import run_extraction

        return run_extraction(
            self.spark, self.src, out_dir,
            num_buckets=self.props["buckets"],
            buckets_per_commit=self.props["buckets_per_commit"],
            input_snapshot=f"seed{self.args.seed}",
        )

    def out_dir(self, i: int) -> str:
        return os.path.join(self.scratch, f"out-{i // self.props['commits_per_output']:03d}")

    def setup(self) -> None:
        from webtext_extraction_spark.sources.transcripts import open_transcripts

        self.start_session()
        self.warm_workers()
        if self.tracer:
            self._wrap_writer()
        self.src = open_transcripts(self.spark, self.input_dir)
        # a whole resumable run into a throw-away directory: after only two
        # warm-up commits, commits kept getting faster for ten more (the
        # JVM still compiling), so faster hosts reached the fast commits
        # within a run and slower ones did not
        for i in range(self.props["commits_per_output"]):
            self.group(f"warm:{i}")
            with self.span("warm"):
                self._commit(os.path.join(self.scratch, "warm"))

    def _wrap_writer(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        self.tracer.wrap(DataFrameWriter, "parquet", "plans.write_parquet")

    def timed(self) -> None:
        self.files_added: list[int] = []

        def op(i):
            summary = self._commit(self.out_dir(i))
            return summary["rows"], summary

        def after(i):
            if self.tracer:
                self.files_added.append(_count_files(self.out_dir(i), ".parquet"))

        self.timed_loop(op, after)

    def check(self) -> None:
        self.batch_rows = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        per_bucket = self.props["rows_per_bucket"]
        nb = self.props["buckets"]
        dirs: dict[str, list[dict]] = {}
        for i, o in enumerate(self.ops):
            o["ok"] = o["rows"] == o["out"]["buckets_done"] * per_bucket and o["out"]["buckets_done"] > 0
            dirs.setdefault(self.out_dir(i), []).append(o)
        ref = replay.sample_digest(self.input_dir, self.batch_rows, lambda c: bucket_of(c, nb))
        self.detail["check"] = {"dirs": []}
        self.lineage_bytes_in = 0
        for d, ops in dirs.items():
            lin = {r["bucket"]: r for r in self.spark.read.parquet(os.path.join(d, "_lineage"))
                   .groupBy("bucket").agg(F.count("*").alias("n"), F.sum("rows").alias("rows"),
                                          F.sum("bytes_in").alias("bytes_in")).collect()}
            data = self.spark.read.parquet(os.path.join(d, "data")).agg(
                F.sum(replay.spark_digest_expr(F)).alias("digest")).collect()[0]["digest"]
            want = sum(ref["digest"].get(b, 0) for b in lin)
            ok = (all(r["n"] == 1 and r["rows"] == per_bucket for r in lin.values())
                  and len(lin) == sum(o["out"]["buckets_done"] for o in ops)
                  and sum(r["rows"] for r in lin.values()) == sum(o["rows"] for o in ops)
                  and data == want)
            self.lineage_bytes_in += sum(r["bytes_in"] for r in lin.values())
            for o in ops:
                o["ok"] = o["ok"] and ok
            self.detail["check"]["dirs"].append(
                {"commits": len(ops), "buckets": len(lin), "digest_ok": data == want, "ok": ok})
        self.detail["sample_strategy_mix"] = ref["strategy_mix"]
        self.detail["sample_status_mix"] = ref["status_mix"]
        commit_s = [o["s"] for o in self.ops]
        self.detail["commit_s"] = percentile_summary(commit_s)

    def trace_layers(self) -> None:
        nb, k = self.props["buckets"], self.props["buckets_per_commit"]
        batches = []
        for lo in range(0, nb, k):
            group = set(range(lo, lo + k))
            batches += replay.file_batches(self.input_dir, self.batch_rows,
                                           lambda c, g=group: bucket_of(c, nb) in g)
        self._replay_layers(batches)
        curate_layers(self)
        stored = sum(_dir_bytes(self.out_dir(i)) for i in range(0, len(self.ops),
                                                                 self.props["commits_per_output"]))
        self.layers["plans.bytes_out_per_byte_in"] = stored / self.lineage_bytes_in

    def trace_after_stop(self) -> None:
        self.tracer.unwrap_all()
        writes = self.tracer.named("plans.write_parquet")
        commits = self.tracer.named(self.op_name)
        probe, write, lineage = [], [], []
        for c in commits:
            inside = [w for w in writes if w[4] == c[0]]
            data_write = inside[0]
            probe.append((data_write[2] - c[2]) / 1e9)
            write.append((data_write[3] - data_write[2]) / 1e9)
            lineage.append((c[3] - data_write[3]) / 1e9)
        groups = event_log_counters(self.event_dir)
        per_commit = group_means(groups, "commit")
        self.layers.update({
            "trace.rows_per_s": rows_per_s(self.ops),
            "plans.jobs_per_commit": per_commit["jobs"],
            "plans.probe_s_per_commit": statistics.median(probe),
            "plans.write_s_per_commit": statistics.median(write),
            "plans.lineage_s_per_commit": statistics.median(lineage),
            "plans.shuffle_mb_per_commit": per_commit["shuffle_bytes"] / 2**20,
            "plans.files_per_commit": statistics.median(self._files_per_commit()),
        })
        self.detail["event_log"] = {"commit": per_commit}
        curate_event_log(self, groups)

    def _files_per_commit(self) -> list[int]:
        per = []
        cpo = self.props["commits_per_output"]
        for i, n in enumerate(self.files_added):
            per.append(n - (self.files_added[i - 1] if i % cpo else 0))
        return per


def curate_chain(docs):
    """The gate chain run_curate builds for --lang en --min-quality 0.6
    --gopher-gate --max-dup-frac 0.9 --dedup exact --scrub-pii, composed
    from the public operators (run_curate.main stops the session)."""
    from webtext_extraction_spark.operators import dedup, privacy, textstats

    idc, txt = "doc_id", "text"
    prof = textstats.text_profile(docs, idc, txt).select(idc, "lang_pred", "quality")
    out = (docs.join(prof, idc)
           .filter(F.col("lang_pred") == "en")
           .filter(F.col("quality") >= CURATE_MIN_QUALITY))
    qg = textstats.quality_gate(docs, idc, txt, min_words=50, max_dup_word_frac=1.0)
    out = out.join(qg.select(idc, "passes"), idc).filter(F.col("passes")).drop("passes")
    rep = textstats.repetition_profile(docs, idc, txt).select(idc, "dup_word_char_frac")
    out = out.join(rep, idc, "left").filter(
        F.coalesce(F.col("dup_word_char_frac"), F.lit(0.0)) <= CURATE_MAX_DUP_FRAC)
    dups = dedup.exact_duplicates(docs, idc, txt)
    losers = (docs.select(F.md5(F.col(txt)).alias("content_hash"), F.col(idc))
              .join(dups.select("content_hash", "keeper_id"), "content_hash")
              .filter(F.col(idc) != F.col("keeper_id"))
              .select(idc))
    out = out.join(losers, idc, "left_anti")
    scrubbed = privacy.scrub_pii(out, idc, txt)
    return out.drop(txt).join(
        scrubbed.select(idc, F.col("scrubbed_text").alias(txt), "n_email", "n_ipv4", "n_phone"),
        idc,
    )


def curate_layers(run: Run) -> None:
    """The curation path's layers, measured inside a traced run on the
    seed's documents table: whole-chain passes written to parquet, plan
    building, Exchange count, and each gate's public function alone
    through an aggregate.  Each pass is a checked probe: it must keep at
    least one document, and the digest of the kept ids must be the same
    on every pass.  Jobs and shuffle per pass come from the event log
    groups ``curate:<n>`` (see ``curate_event_log``)."""
    from webtext_extraction_spark.operators import dedup, privacy, textstats

    from perfbench.inputs import ensure_input

    docs_dir, props = ensure_input(run.work_dir, "documents", run.args.seed)
    docs = run.spark.read.parquet(docs_dir)
    out_path = os.path.join(run.scratch, "curated")
    passes, kept = [], []
    for i in range(REPEATS):
        run.group(f"curate:{i}")
        t0 = time.perf_counter()
        with run.span("operators.curate_pass"):
            curate_chain(docs).write.mode("overwrite").parquet(out_path)
        passes.append(time.perf_counter() - t0)
        run.group(f"curate_check:{i}")
        row = run.spark.read.parquet(out_path).agg(
            F.count("*").alias("n"),
            F.sum(F.crc32(F.col("doc_id").cast("string"))).alias("digest")).collect()[0]
        kept.append((row["n"], row["digest"]))
    run.probes_ok += [k[0] > 0 and k == kept[0] for k in kept]
    run.layers["operators.curate_pass_s"] = statistics.median(passes)
    run.detail["curate"] = {
        "documents": props,
        "kept": [k[0] for k in kept],
        "kept_id_digest": [k[1] for k in kept],
        "pass_s": passes,
    }
    plan_s, plan = [], ""
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        with run.span("operators.plan"):
            plan = curate_chain(docs)._jdf.queryExecution().executedPlan().toString()
        plan_s.append(time.perf_counter() - t0)
    run.layers["operators.plan_s"] = statistics.median(plan_s)
    run.layers["operators.exchanges_in_plan"] = _count_exchanges(plan)
    idc, txt = "doc_id", "text"
    gates = {
        "text_profile": lambda: textstats.text_profile(docs, idc, txt).agg(
            F.sum("quality"), F.count("lang_pred")),
        "quality_gate": lambda: textstats.quality_gate(docs, idc, txt).agg(
            F.sum(F.col("passes").cast("int"))),
        "repetition_profile": lambda: textstats.repetition_profile(docs, idc, txt).agg(
            F.sum("dup_word_char_frac")),
        "exact_duplicates": lambda: dedup.exact_duplicates(docs, idc, txt).agg(
            F.count("*"), F.sum("n_dups")),
        "scrub_pii": lambda: privacy.scrub_pii(docs, idc, txt).agg(
            F.sum(F.length("scrubbed_text")), F.sum("n_email")),
    }
    for name, agg in gates.items():
        times = []
        for i in range(REPEATS):
            run.group(f"gate.{name}:{i}")
            t0 = time.perf_counter()
            with run.span(f"operators.{name}"):
                agg().collect()
            times.append(time.perf_counter() - t0)
        run.layers[f"operators.{name}_s"] = statistics.median(times)


def curate_event_log(run: Run, groups: dict) -> None:
    per_pass = group_means(groups, "curate")
    run.layers["operators.curate_jobs_per_pass"] = per_pass["jobs"]
    run.layers["operators.shuffle_mb_per_pass"] = per_pass["shuffle_bytes"] / 2**20
    run.detail["event_log"]["curate"] = per_pass


def _count_exchanges(plan: str) -> int:
    n = 0
    for line in plan.splitlines():
        node = line.lstrip(" :+-*").split(" ", 1)[0]
        if node.endswith("Exchange") and not node.startswith("Reused"):
            n += 1
    return n


def _count_files(root: str, suffix: str) -> int:
    return sum(1 for _, _, files in os.walk(root) for f in files if f.endswith(suffix))


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files)


WORKLOADS = {
    "extract_mixed": ExtractMixed,
    "commit_resume": CommitResume,
}
