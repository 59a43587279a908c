"""Single-process replays of the extraction batches, outside Spark.

Three uses:

- the correctness reference: the digest Spark's output must match on a
  deterministic sample of rows (``sample_digest``);
- the per-layer split: every batch goes through ``_extract_batch`` with
  the kernel's public functions wrapped in spans (``layer_replay``);
- the paired no-Spark control: ``nproc`` forked processes run
  ``_extract_batch`` over the same batches (``control_rows_per_s``).
"""

from __future__ import annotations

import glob
import json
import multiprocessing as mp
import os
import statistics
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from webtext_extraction_spark import rules
from webtext_extraction_spark.html import dom as htmldom
from webtext_extraction_spark.kernel import cleanup as cleanup_mod
from webtext_extraction_spark.kernel import extract as extract_mod
from webtext_extraction_spark.kernel import handlers
from webtext_extraction_spark.kernel import tracked as tracked_mod
from webtext_extraction_spark.operators.extraction import _extract_batch

SAMPLE_MOD = 8  # rows with crc32(conv_id) % SAMPLE_MOD == 0 form the check sample
SEP = "\x1f"

# (owner, attribute, layer) — the spans the layer replay records
LAYER_WRAPS = [
    (htmldom, "parse", "html.parse"),
    (extract_mod, "extract_main_content", "kernel.select"),
    (extract_mod, "decompose_all", "kernel.decompose"),
    (extract_mod, "cleanup_extracted_text", "kernel.cleanup"),
    (cleanup_mod, "remove_duplicate_content", "kernel.neardup"),
    (handlers, "handle_chiebukuro", "kernel.special"),
    (handlers, "handle_instagram", "kernel.special"),
    (handlers, "handle_twitter", "kernel.special"),
    (handlers, "handle_pinterest", "kernel.special"),
    (extract_mod, "extract_pdfish", "kernel.special"),
    (extract_mod, "extract_payload", "kernel.unattributed"),
    # result spans built inside extract_payload count as assembly
    (tracked_mod.TrackedText, "span_tuples", "operators.assembly"),
]
BATCH_SPAN = "operators.assembly"


def in_sample(conv_id: str) -> bool:
    return zlib.crc32(conv_id.encode("utf-8")) % SAMPLE_MOD == 0


def file_batches(input_dir: str, batch_rows: int, keep=None) -> list[pa.Table]:
    """The input as Spark's Arrow batches would cut it: per file, in file
    order, ``batch_rows`` rows at a time (after the optional row filter
    ``keep(conv_id) -> bool``, as a pushed-down filter would apply)."""
    out = []
    for f in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        t = pq.read_table(f, columns=["conv_id", "turn_idx", "text", "tool"])
        if keep is not None:
            mask = [keep(c) for c in t.column("conv_id").to_pylist()]
            t = t.filter(pa.array(mask))
        out.extend(t.slice(i, batch_rows) for i in range(0, t.num_rows, batch_rows))
    return out


def _status(text: str, status: str) -> str:
    if status == "ok" and any(p in text for p in rules.ERROR_PATTERNS):
        return "error_pattern"
    return status


def row_digests(batch: pa.Table, result: pa.StructArray) -> list[int]:
    """crc32 of conv_id, turn_idx, extracted_text, status, spans-as-JSON —
    the same string the Spark side hashes (see ``spark_digest_expr``)."""
    res = result.to_pylist()
    out = []
    for conv, turn, r in zip(batch.column("conv_id").to_pylist(),
                             batch.column("turn_idx").to_pylist(), res):
        text = r["extracted_text"] or ""
        spans = json.dumps(r["spans"], separators=(",", ":"), ensure_ascii=False) \
            if r["spans"] is not None else ""
        key = SEP.join([conv, str(turn), text, _status(text, r["status"] or ""), spans])
        out.append(zlib.crc32(key.encode("utf-8")))
    return out


def spark_digest_expr(F):
    """Spark column: the row digest above for sample rows, else 0."""
    key = F.concat_ws(
        SEP,
        F.col("conv_id"),
        F.col("turn_idx").cast("string"),
        F.coalesce(F.col("extracted_text"), F.lit("")),
        F.coalesce(F.col("status"), F.lit("")),
        F.coalesce(F.to_json(F.col("spans")), F.lit("")),
    )
    return F.when(F.crc32(F.col("conv_id")) % SAMPLE_MOD == 0, F.crc32(key)).otherwise(F.lit(0))


def sample_digest(input_dir: str, batch_rows: int, key=None) -> dict:
    """Reference digests over the sample rows, summed per ``key(conv_id)``
    (one total when no key is given), with the sample's strategy and
    status mix."""
    rows, digest, strategies, statuses = 0, {}, {}, {}
    for batch in file_batches(input_dir, batch_rows, in_sample):
        result = _extract_batch(batch.column("text").combine_chunks(),
                                batch.column("tool").combine_chunks())
        convs = batch.column("conv_id").to_pylist()
        for conv, d in zip(convs, row_digests(batch, result)):
            k = key(conv) if key is not None else 0
            digest[k] = digest.get(k, 0) + d
        rows += batch.num_rows
        for r in result.to_pylist():
            st = _status(r["extracted_text"] or "", r["status"])
            strategies[r["strategy"]] = strategies.get(r["strategy"], 0) + 1
            statuses[st] = statuses.get(st, 0) + 1
    return {"rows": rows, "digest": digest, "strategy_mix": dict(sorted(strategies.items())),
            "status_mix": dict(sorted(statuses.items()))}


def layer_replay(tracer, batches: list[pa.Table]) -> dict:
    """Replay every batch with the kernel's layers wrapped; per-row self
    times in ms per layer, and the batch-memo hit share."""
    start = len(tracer.spans)
    for owner, attr, name in LAYER_WRAPS:
        tracer.wrap(owner, attr, name)
    rows = 0
    try:
        for batch in batches:
            texts = batch.column("text").combine_chunks()
            tools = batch.column("tool").combine_chunks()
            with tracer.span(BATCH_SPAN):
                _extract_batch(texts, tools)
            rows += batch.num_rows
    finally:
        tracer.unwrap_all()
    totals = tracer.totals(start)
    payload_calls = totals.get("kernel.unattributed", {}).get("count", 0)
    out = {"rows": rows, "ms_per_row": totals[BATCH_SPAN]["total_ns"] / 1e6 / rows,
           "memo_hits": rows - payload_calls, "memo_hit_share": (rows - payload_calls) / rows}
    for name in {w[2] for w in LAYER_WRAPS} | {BATCH_SPAN}:
        out[name] = totals.get(name, {"self_ns": 0})["self_ns"] / 1e6 / rows
    return out


_CONTROL_BATCHES: list = []


def _control_init() -> None:
    # warm the kernel's lazy state in each worker before the timed map
    _control_run(0)


def _control_run(i: int) -> int:
    texts, tools = _CONTROL_BATCHES[i]
    _extract_batch(texts, tools)
    return len(texts)


def control_rows_per_s(batches: list[pa.Table], nproc: int, rounds: int = 3) -> float:
    """Median rows/s of ``nproc`` forked processes running _extract_batch
    over all batches; call only while no JVM is alive in this process."""
    global _CONTROL_BATCHES
    _CONTROL_BATCHES = [(b.column("text").combine_chunks(), b.column("tool").combine_chunks())
                        for b in batches]
    rates = []
    with mp.get_context("fork").Pool(nproc, initializer=_control_init) as pool:
        pool.map(_control_run, range(nproc), chunksize=1)
        for _ in range(rounds):
            t0 = time.perf_counter()
            rows = sum(pool.imap_unordered(_control_run, range(len(_CONTROL_BATCHES))))
            rates.append(rows / (time.perf_counter() - t0))
    _CONTROL_BATCHES = []
    return statistics.median(rates)
