"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

Every table is a pure function of the seed: payload builders come from
the engine's own archetype pool (``fixtures_pages``), and every mix
proportion is fixed exactly (shuffled, never sampled) so that two seeds
differ in which pages land where, not in how much work there is.

- ``transcripts_mixed``: the bench profile.  Half the turns are 10-20 KB
  article pages; the other half is the 25-archetype golden mix with
  PDFs, special handlers, timeouts and exactly 5% hot conversations
  whose golden turns carry 20x pages.  Page seeds are drawn from 2^31
  values, so the only exact duplicates are the seed-independent
  archetypes and the timeout turns.
- ``transcripts_commit``: the golden profile (~1 KB pages) over
  conversations chosen so that every lineage bucket holds exactly the
  same number of rows, with a planted share of exact-duplicate
  (payload, tool) rows: two thirds re-fetch an earlier turn of the same
  conversation, one third copy a turn of another bucket.
- ``documents``: word-soup documents shaped like the curation test
  corpus (30-word vocabulary, 10-100 words, five language labels,
  twenty sources) with a planted share of exact-duplicate texts.

Each input directory holds the parquet files under ``data/`` and
``props.json``, the
exact workload properties (rows, payload bytes, mix counts, duplicate
and hot shares, buckets and commits).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import struct
import subprocess
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from webtext_extraction_spark import fixtures_pages as fp

ARTICLE_SCALE = 25  # ~20 KB article pages, the bench profile's large half
HOT_SHARE = 0.05
TIMEOUT_EVERY = 211
ROLES = ("user", "assistant", "tool")

MIXED_CONVS = 900  # 5,850 turns
MIXED_FILES = 8

COMMIT_BUCKETS = 16
COMMIT_BUCKETS_PER_COMMIT = 2
COMMIT_CONVS_PER_BUCKET = 156  # 1,014 turns per bucket
COMMIT_DUP_SHARE = 0.12
COMMIT_FILES = 4

DOCS = 5000
DOC_DUP_SHARE = 0.02
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ("en", "en", "en", "en", "zh", "es", "fr", "de", "en", "zh")
DOC_SOURCES = 20

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

# --------------------------------------------------------------------------
# Spark's xxhash64 (seed 42) over a UTF-8 string, so that conversations
# can be dealt into lineage buckets before Spark starts:
# bucket = pmod(xxhash64(conv_id), B), as in operators.partitioning.bucket_id
# --------------------------------------------------------------------------
_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ ((k * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def bucket_of(conv_id: str, num_buckets: int) -> int:
    return xxhash64(conv_id.encode("utf-8")) % num_buckets


# --------------------------------------------------------------------------
# page mixes
# --------------------------------------------------------------------------


def _golden_kinds(rng: random.Random, n: int) -> list[str]:
    """Exactly n golden-mix kinds: 1/TIMEOUT_EVERY timeouts, the rest dealt
    round-robin over the 25 archetypes, shuffled."""
    n_timeout = round(n / TIMEOUT_EVERY)
    names = [a[0] for a in fp.ARCHETYPES]
    kinds = ["timeout"] * n_timeout + [names[i % len(names)] for i in range(n - n_timeout)]
    rng.shuffle(kinds)
    return kinds


_BUILDERS = {name: (builder, tool) for name, builder, tool in fp.ARCHETYPES}


def _page(kind: str, page_seed: int) -> tuple[str, str]:
    if kind == "timeout":
        return "", "timeout"
    if kind == "article":
        return fp.h01_main_article(page_seed, scale=ARTICLE_SCALE), "fetch"
    if kind == "hot_domain":
        return fp.h_hot_domain(page_seed), "fetch"
    builder, tool = _BUILDERS[kind]
    return builder(page_seed), tool


def _turn_counts(n_conv: int) -> list[int]:
    return [1 + (i % 12) for i in range(n_conv)]


def _transcript_table(rows: list[tuple]) -> pa.Table:
    conv, turn, text, tool = zip(*rows)
    n = len(rows)
    return pa.table(
        {
            "conv_id": pa.array(conv, pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array([ROLES[t % 3] for t in turn], pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            # 2024-01-01T00:00:00Z plus one second per row, in file order
            "ts": pa.array([(1704067200 + i) * 1_000_000 for i in range(n)],
                           pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> None:
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(
            table.slice(f * step, step),
            os.path.join(out_dir, f"part-{f:03d}.parquet"),
            row_group_size=512,
        )


def _payload_props(rows: list[tuple], kinds: list[str]) -> dict:
    sizes = sorted(len(r[2].encode("utf-8")) for r in rows)
    n = len(sizes)
    distinct = len({(r[2], r[3]) for r in rows})
    return {
        "rows": n,
        "payload_bytes": sum(sizes),
        "payload_bytes_mean": sum(sizes) / n,
        "payload_bytes_p99": sizes[min(n - 1, (99 * n) // 100)],
        "archetype_mix": dict(sorted(Counter(kinds).items())),
        "exact_dup_rows": n - distinct,
        "exact_dup_share": (n - distinct) / n,
    }


def gen_transcripts_mixed(seed: int, out_dir: str) -> dict:
    rng = random.Random(f"mixed:{seed}")
    counts = _turn_counts(MIXED_CONVS)
    rng.shuffle(counts)
    convs = [f"m{seed}-{i:06d}" for i in range(MIXED_CONVS)]
    hot = set(rng.sample(range(MIXED_CONVS), round(HOT_SHARE * MIXED_CONVS)))
    keys = [(ci, t) for ci, c in enumerate(counts) for t in range(c)]
    n = len(keys)
    article = [True] * (n // 2) + [False] * (n - n // 2)
    rng.shuffle(article)
    golden = _golden_kinds(rng, n - n // 2)
    kinds, rows = [], []
    for (ci, t), is_article in zip(keys, article):
        if is_article:
            kind = "article"
        else:
            kind = golden.pop()
            if ci in hot and kind != "timeout":
                kind = "hot_domain"
        text, tool = _page(kind, rng.randrange(1 << 31))
        kinds.append(kind)
        rows.append((convs[ci], t, text, tool))
    _write_split(_transcript_table(rows), out_dir, MIXED_FILES)
    props = _payload_props(rows, kinds)
    props.update(
        conversations=MIXED_CONVS,
        hot_conversations=len(hot),
        hot_conversation_share=len(hot) / MIXED_CONVS,
        hot_rows=kinds.count("hot_domain"),
        files=MIXED_FILES,
    )
    return props


def gen_transcripts_commit(seed: int, out_dir: str) -> dict:
    rng = random.Random(f"commit:{seed}")
    per_bucket: list[list[str]] = [[] for _ in range(COMMIT_BUCKETS)]
    order: list[str] = []
    j = 0
    while len(order) < COMMIT_BUCKETS * COMMIT_CONVS_PER_BUCKET:
        conv = f"c{seed}-{j:07d}"
        j += 1
        b = bucket_of(conv, COMMIT_BUCKETS)
        if len(per_bucket[b]) < COMMIT_CONVS_PER_BUCKET:
            per_bucket[b].append(conv)
            order.append(conv)
    # every bucket gets the same multiset of conversation lengths
    turns = {}
    for convs in per_bucket:
        counts = _turn_counts(COMMIT_CONVS_PER_BUCKET)
        rng.shuffle(counts)
        turns.update(zip(convs, counts))
    n_conv = len(order)
    hot = set(rng.sample(order, round(HOT_SHARE * n_conv)))
    keys = [(c, t) for c in order for t in range(turns[c])]
    golden = _golden_kinds(rng, len(keys))
    kinds, rows = [], []
    for conv, t in keys:
        kind = golden.pop()
        if conv in hot and kind != "timeout":
            kind = "hot_domain"
        text, tool = _page(kind, rng.randrange(1 << 31))
        kinds.append(kind)
        rows.append((conv, t, text, tool))
    # planted exact duplicates: re-fetches inside a conversation (the
    # batch memo's case) and mirrors across buckets (only a global
    # dedup finds those)
    n_dup = round(COMMIT_DUP_SHARE * len(rows))
    later = [i for i, (_, t, _, _) in enumerate(rows) if t > 0]
    targets = rng.sample(later, n_dup)
    for k, i in enumerate(targets):
        conv, t, _, _ = rows[i]
        if k % 3 < 2:
            src = i - rng.randrange(1, t + 1)
        else:
            src = rng.randrange(len(rows))
            while rows[src][0] == conv:
                src = rng.randrange(len(rows))
        rows[i] = (conv, t, rows[src][2], rows[src][3])
        kinds[i] = kinds[src]
    _write_split(_transcript_table(rows), out_dir, COMMIT_FILES)
    props = _payload_props(rows, kinds)
    props.update(
        conversations=n_conv,
        hot_conversations=len(hot),
        hot_conversation_share=len(hot) / n_conv,
        hot_rows=kinds.count("hot_domain"),
        planted_dup_rows=n_dup,
        buckets=COMMIT_BUCKETS,
        rows_per_bucket=len(rows) // COMMIT_BUCKETS,
        buckets_per_commit=COMMIT_BUCKETS_PER_COMMIT,
        commits_per_output=COMMIT_BUCKETS // COMMIT_BUCKETS_PER_COMMIT,
        files=COMMIT_FILES,
    )
    return props


def gen_documents(seed: int, out_dir: str) -> dict:
    rng = random.Random(f"docs:{seed}")
    texts = [
        " ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 100)))
        for _ in range(DOCS)
    ]
    n_dup = round(DOC_DUP_SHARE * DOCS)
    for i in rng.sample(range(1, DOCS), n_dup):
        texts[i] = texts[rng.randrange(i)]
    table = pa.table(
        {
            "doc_id": pa.array(range(DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([DOC_LANGS[rng.randrange(len(DOC_LANGS))] for _ in texts]),
            "source": pa.array([f"src{i % DOC_SOURCES}" for i in range(DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    sizes = sorted(len(t.encode("utf-8")) for t in texts)
    return {
        "rows": DOCS,
        "payload_bytes": sum(sizes),
        "payload_bytes_mean": sum(sizes) / DOCS,
        "payload_bytes_p99": sizes[(99 * DOCS) // 100],
        "exact_dup_rows": DOCS - len(set(texts)),
        "exact_dup_share": (DOCS - len(set(texts))) / DOCS,
        "sources": DOC_SOURCES,
        "files": 1,
    }


GENERATORS = {
    "extract_mixed": gen_transcripts_mixed,
    "commit_resume": gen_transcripts_commit,
    "documents": gen_documents,
}


def _generate(path: str, table: str, seed: int) -> None:
    """Write one table and its props into ``path``, through a temporary
    directory that is renamed into place only when complete."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "data"))
    props = GENERATORS[table](seed, os.path.join(tmp, "data"))
    props["seed"] = seed
    with open(os.path.join(tmp, "props.json"), "w", encoding="utf-8") as fh:
        json.dump(props, fh, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def ensure_input(work_dir: str, table: str, seed: int) -> tuple[str, dict]:
    """(parquet directory, props) of one of GENERATORS' tables.  A missing
    table is generated in a child process, so the caller's heap and
    garbage are the same whether or not the input was cached."""
    path = os.path.join(work_dir, "inputs", f"{table}-s{seed}")
    props_path = os.path.join(path, "props.json")
    if not os.path.exists(props_path):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""))
        subprocess.run([sys.executable, "-m", "perfbench.inputs", path, table, str(seed)],
                       cwd=root, env=env, check=True, timeout=600)
    with open(props_path, encoding="utf-8") as fh:
        return os.path.join(path, "data"), json.load(fh)


if __name__ == "__main__":
    _generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
