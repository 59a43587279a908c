"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force top-k — the correctness baseline.
  Query set is broadcast (tiny) so the "join" is a broadcast
  nested-loop + per-row vector math in codegen; the only shuffle is
  the final per-query top-k window.
- ``lsh_ann_topk``: the scale path — random-hyperplane LSH buckets;
  queries probe only their own bucket, so the candidate set per query
  is n/2^planes instead of n.  Plane weights are deterministic
  constants inlined into the plan (and into the DuckDB oracle), not
  runtime randomness.
- ``ivf_ann_topk``: centroid-cell ANN — learned-geometry partition,
  ``n_probe`` multi-probe fan-out, optional deterministic k-means
  refinement (``kmeans_centroids``).
- ``cosine_topk_int8``: int8-quantized candidate scan (4× smaller at
  scale) + exact-float rerank of the shortlist.
- ``embedding_near_duplicates``: cosine-threshold near-dup pairs
  within LSH buckets.

All math is double-precision Spark expressions (zip_with + aggregate)
or exact integer arithmetic (int8 path); cosines are rounded to 6 dp
so oracle value-hashes match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _plane_weights(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1) — same
    constants are rendered into the DuckDB oracle SQL."""
    planes = []
    state = 1234567891011
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(((state >> 20) % 2000001) / 1000000.0 - 1.0)
        planes.append(row)
    return planes


def cosine(a, b):
    """Cosine similarity; a zero-norm vector scores 0.0 against
    everything (deterministic total ordering — no NULLs in rankings,
    no ANSI divide-by-zero; r4 random-corpus soak finding).  Two
    identical zero vectors are exact duplicates and belong to
    exact-dedup, not the cosine threshold."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda v: F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    denom = norm(a) * norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot / denom)


def hashed_bow_embedding(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 64,
    out_col: str = "embedding",
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009) text
    → deterministic L2-unit vector — the text→vector bridge that lets
    a corpus WITHOUT an embeddings table ride the ANN / near-dup stack
    (cosine_topk, lsh_ann_topk, embedding_near_duplicates all accept
    the output column).

    Per token occurrence, ONE md5 supplies both coordinates from
    disjoint digest substrings: bucket = first-60-bits % dim
    (portable_hash64's slice), sign = parity of hex digit 16 — so the
    DuckDB oracle replays it exactly, and signed counting keeps the
    estimator unbiased (E[<φ(a), φ(b)>] = <a, b>).

    Exactness contract: bucket sums and the squared norm stay in
    INTEGER arithmetic (order-free, bit-identical cross-engine); the
    only float ops are one sqrt and one division per component, so
    round(val, 6) hashes match DuckDB with no float-sum-order caveat.

    Shape at scale: explode → groupBy(id, bucket) with map-side
    combine (shuffle rows are (id, int, partial-sum) — payload text
    never shuffles) → groupBy(id) map assembly (hash-partitioning on
    (id, bucket) already clusters by id's subset, but Catalyst plans
    the second Exchange; both carry ≤ dim ints per doc).  Zero-token
    docs (NULL/empty/whitespace text) drop — same convention as
    unigram_logprob; a full-cancellation doc keeps the ZERO vector
    (cosine() scores it 0.0 against everything by the r4 rule).
    """
    from ..functions.text import words

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    tok = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("w"))
    m = F.md5(F.col("w"))
    h = F.conv(F.substring(m, 1, 15), 16, 10).cast("bigint")  # 60 bits, >= 0
    sbit = F.conv(F.substring(m, 16, 1), 16, 10).cast("int") % 2
    contrib = tok.select(
        F.col(id_col),
        (h % dim).cast("int").alias("bucket"),
        (F.lit(1) - 2 * sbit).cast("long").alias("s"),
    )
    sums = contrib.groupBy(id_col, "bucket").agg(F.sum("s").alias("v"))
    assembled = sums.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("v")))
        ).alias("bmap")
    )
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.try_element_at(F.col("bmap"), i), F.lit(0).cast("long")),
    )
    ss = F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x * x)
    norm = F.sqrt(ss.cast("double"))
    emb = F.when(
        ss == F.lit(0), F.array_repeat(F.lit(0.0), dim)
    ).otherwise(F.transform(arr, lambda x: x.cast("double") / norm))
    return assembled.select(F.col(id_col), emb.alias(out_col))


def cosine_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k for the given query ids against the
    full table.  (query_id, neighbor_id, cos) with deterministic
    tie-breaking (cos desc, neighbor_id asc)."""
    if query_ids is None:
        query_ids = [0, 1, 2]
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("b_vec")
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(base)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine(F.col("q_vec"), F.col("b_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def with_lsh_bucket(
    df: DataFrame, vec_col: str = "embedding", num_planes: int = 4, dim: int = 64
) -> DataFrame:
    """Append ``bucket`` int: bit i = (dot(vec, plane_i) > 0).

    Shape note (measured, not assumed): a single-pass variant that
    arrays_zip's the vector with all plane weight arrays and carries an
    array<double> of running dots — the fix that won 5× for
    dedup.with_simhash — is SLOWER here (16 planes × 64 dims × 100k
    rows: 2.6-2.9 s multi-pass vs 3.1-4.2 s zipped): materializing a
    (num_planes+1)-field struct per vector element costs more than the
    extra traversals of a primitive zip_with.  simhash won because its
    per-bit work shares ONE token-hash array; here each plane has its
    own weight array, so the zip is pure overhead.  Kept multi-pass."""
    planes = _plane_weights(num_planes, dim)
    bucket = F.lit(0)
    for i, weights in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.lit([float(w) for w in weights]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return df.withColumn("bucket", bucket)


def lsh_ann_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 5,
    num_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Bucketed ANN: probe only the query's own LSH bucket.  Recall<1
    by design; the bucket restriction is the 100 TB lever (candidates
    shrink 2^planes-fold and the join is an equi-join on bucket)."""
    if query_ids is None:
        query_ids = [0, 1, 2]
    # one bucketed subtree feeds both sides; the query filter reaches
    # the scan, so the broadcast side buckets only the query rows
    bucketed = with_lsh_bucket(embeddings, vec_col, num_planes, dim)
    queries = bucketed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("bucket").alias("q_bucket"),
    )
    base = bucketed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("b_vec"),
        "bucket",
    )
    scored = (
        F.broadcast(queries)
        .join(base, F.col("q_bucket") == F.col("bucket"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine(F.col("q_vec"), F.col("b_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def with_ivf_cell(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cell`` int: index of the nearest centroid (squared-L2
    argmin, FIRST minimal index on ties).  Centroids are deterministic
    constants inlined into the plan — on a real deployment they come
    from a sampled k-means pass and are broadcast the same way.

    Shape note (optimization r6): the argmin is array_position(darr,
    array_min(darr)) over a per-centroid distance array.  The previous
    ``best = when(closer, …).otherwise(best)`` fold embedded the
    running best TWICE per centroid — an O(2^k)-node expression tree
    whose analysis alone took seconds per query at k=8 (guide §7.3
    "very large plans"); the array form is linear in k and picks the
    identical cell (array_position returns the first occurrence)."""
    if not centroids:
        return df.withColumn("cell", F.lit(0))
    dists = [
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.lit([float(x) for x in c]),
                lambda v, w: (v.cast("double") - w) * (v.cast("double") - w),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for c in centroids
    ]
    # coalesce: a NULL vector makes every dist NULL (centroid literals
    # are never NULL, all dists share the vector) — the old fold left
    # cell 0 there, so the argmin must too
    out = df.withColumn("_ivf_darr", F.array(*dists)).withColumn(
        "cell",
        F.coalesce(
            (
                F.array_position(
                    F.col("_ivf_darr"), F.array_min(F.col("_ivf_darr"))
                )
                - 1
            ).cast("int"),
            F.lit(0),
        ),
    )
    return out.drop("_ivf_darr")


def default_centroids(df: DataFrame, k: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic centroid seed: the first k vectors by id
    (randomness is banned in tests; refine with kmeans_centroids)."""
    rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    return [[float(x) for x in r[0]] for r in rows]


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic distributed Lloyd iterations: seed = first k
    vectors by id, then ``iters`` rounds of (assign nearest cell →
    per-cell elementwise mean).  Each round is one Spark job — assign
    is pure expressions (with_ivf_cell), the mean is posexplode +
    groupBy(cell, pos) avg, and only k×dim numbers reach the driver
    (the same handful a real deployment would broadcast).  Components
    are rounded to 6 dp so the DuckDB oracle replays bit-identically;
    an empty cell keeps its previous centroid."""
    cents = default_centroids(df, k, id_col, vec_col)
    dim = len(cents[0]) if cents else 0
    for _ in range(iters):
        celled = with_ivf_cell(df, cents, vec_col)
        means = (
            celled.select("cell", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
            .collect()
        )
        new = {(r["cell"], r["pos"]): r["m"] for r in means}
        cents = [
            [float(new.get((c, p), cents[c][p])) for p in range(dim)]
            for c in range(k)
        ]
    return cents


def probe_cells(
    centroids: list[list[float]],
    vec_col: str = "embedding",
    n_probe: int = 1,
):
    """array<int> of the ``n_probe`` nearest centroid cells (squared-L2
    ascending, centroid index breaking ties) — multi-probe IVF's query
    fan-out.  Pure expressions: one struct per centroid, array_sort,
    slice."""
    entries = []
    for i, c in enumerate(centroids):
        dist = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.lit([float(x) for x in c]),
                lambda v, w: (v.cast("double") - w) * (v.cast("double") - w),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        entries.append(F.struct(dist.alias("d"), F.lit(i).alias("cid")))
    ranked = F.array_sort(F.array(*entries))
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["cid"])


def ivf_ann_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 1,
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid cell;
    each query probes its ``n_probe`` nearest cells (classic IVF
    multi-probe — single-probe recall collapses on clustered data when
    a query sits near a cell boundary).  The scale lever is identical
    to LSH bucketing (equi-join on cell, candidates shrink
    n_cells/n_probe-fold) but the partition function is learned
    geometry instead of random hyperplanes.  ``kmeans_iters > 0``
    refines the first-k-by-id seed with deterministic Lloyd rounds
    (kmeans_centroids) — the real-deployment shape, where cells track
    the data's clusters instead of arbitrary seed vectors."""
    if query_ids is None:
        query_ids = [0, 1, 2]
    if kmeans_iters > 0:
        centroids = kmeans_centroids(
            embeddings, k=n_cells, iters=kmeans_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids = default_centroids(embeddings, k=n_cells, id_col=id_col, vec_col=vec_col)
    celled = with_ivf_cell(embeddings, centroids, vec_col)
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probe_cells(centroids, vec_col, n_probe)).alias("q_cell"),
    )
    base = celled.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("b_vec"), "cell"
    )
    scored = (
        F.broadcast(queries)
        .join(base, F.col("q_cell") == F.col("cell"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine(F.col("q_vec"), F.col("b_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def with_int8_quantization(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Append ``q_scale`` (per-vector max-abs) and ``qvec``
    (array<int>, symmetric int8 range [-127, 127]).

    The 100 TB lever: a 64-dim float32 embedding column is 256 B/row;
    int8 is 64 B — a 4× scan/cache/shuffle reduction for the candidate
    stage, with exact float rerank only on survivors.  Quantization is
    ``floor(x·127/scale + 0.5)`` — floor-based so Spark, DuckDB and
    Python round identically (their ``round`` half-way rules differ)."""
    scale = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
    )
    df = df.withColumn("q_scale", scale)
    qvec = F.when(
        F.col("q_scale") > 0,
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * 127 / F.col("q_scale") + 0.5).cast(
                "int"
            ),
        ),
    ).otherwise(F.transform(F.col(vec_col), lambda x: F.lit(0)))
    return df.withColumn("qvec", qvec)


def int8_cosine(qa, qb):
    """Cosine in the quantized integer domain (exact integer dot —
    bit-identical across engines; the per-vector scales cancel out of
    the cosine up to quantization error)."""
    dot = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    norm = lambda v: F.sqrt(
        F.aggregate(
            F.zip_with(v, v, lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    denom = norm(qa) * norm(qb)
    # all-zero qvec (zero-norm source vector) scores 0.0, same rule
    # as the float cosine above
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot.cast("double") / denom)


def cosine_topk_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 5,
    rerank_factor: int = 4,
) -> DataFrame:
    """Quantized-scan ANN: score ALL candidates with int8 cosine (the
    cheap 4×-smaller pass), keep the top ``rerank_factor × k`` per
    query, then rerank ONLY those with the exact float cosine.
    Returns (query_id, neighbor_id, qcos, cos, rank) — rank by exact
    cosine.  Recall loss happens only if a true top-k neighbor falls
    outside the quantized top-(rerank_factor·k), which quantization
    error of ≲1% makes rare."""
    if query_ids is None:
        query_ids = [0, 1, 2]
    quant = with_int8_quantization(embeddings, vec_col)
    queries = quant.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("qvec").alias("q_q"),
    )
    base = quant.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("b_vec"),
        F.col("qvec").alias("q_b"),
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(base)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qcos", F.round(int8_cosine(F.col("q_q"), F.col("q_b")), 6))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("_qrank", F.row_number().over(wq))
        .filter(F.col("_qrank") <= rerank_factor * k)
        .withColumn("cos", F.round(cosine(F.col("q_vec"), F.col("b_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        shortlist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qcos", "cos", "rank")
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Cosine near-dup pairs within LSH buckets (id_a < id_b)."""
    bucketed = with_lsh_bucket(embeddings, vec_col, num_planes, dim)
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("bucket").alias("ba")
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("bucket").alias("bb")
    )
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def topk_recall(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """ANN quality harness: recall@k of an approximate top-k result
    against the exact one — the measure-don't-guess check every ANN
    deployment needs before trusting a bucketed index at scale (run it
    on a sampled query set; recall drops are the signal to raise
    n_probe / num_planes).

    Both inputs are (query_id, neighbor_id, rank, ...) frames as
    produced by cosine_topk / lsh_ann_topk / ivf_ann_topk /
    cosine_topk_int8; rows beyond rank k are ignored so differently-
    parameterized results compare at a common depth.  Per query:
    n_exact, n_hit (= |approx ∩ exact|), recall = n_hit / n_exact.
    Queries the approximate side missed entirely still appear (n_hit
    0, recall 0) — a silent-miss would be the worst failure mode of a
    recall metric.  Shape: two tiny groupBys + one equi-join on
    (query_id, neighbor_id); both sides are already k·|queries| rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    a = approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = (
        e.join(a, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    base = e.groupBy("query_id").agg(F.count("*").cast("int").alias("n_exact"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_hit", F.lit(0)).cast("int").alias("n_hit"),
        F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6)
        .cast("double")
        .alias("recall"),
    )


def ivf_tune_n_probe(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    target_recall: float = 0.9,
    n_cells: int = 8,
    max_n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> dict:
    """Driver-side IVF tuning loop: the smallest ``n_probe`` whose mean
    recall@k (vs exact brute-force cosine, measured on the given query
    sample by :func:`topk_recall`) meets ``target_recall``.  This is
    the standard deployment step for a learned index — pick the probe
    fan-out from MEASURED recall on a query sample, never by guessing.

    Deliberately a driver loop (one small Spark job per candidate
    n_probe, each over the same sampled query set): index tuning is a
    setup-time activity like k-means seeding, not a per-query path.
    The exact baseline is computed ONCE.  Returns
    ``{"n_probe": int, "recall": float, "curve": [(n_probe, recall),
    ...]}`` — if even probing every cell misses the target (possible
    when the exact top-k ties at the boundary), the full-probe setting
    is returned with its measured recall; callers compare against
    target_recall themselves.
    """
    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    if max_n_probe is not None and max_n_probe < 1:
        # ADVICE r04: an empty loop range would return None instead of
        # the documented dict
        raise ValueError(f"max_n_probe must be >= 1, got {max_n_probe}")
    exact = cosine_topk(embeddings, id_col=id_col, vec_col=vec_col,
                        query_ids=query_ids, k=k)
    exact.persist()
    try:
        curve = []
        best = None
        # clamp: probing more cells than exist is the full-probe case
        top = min(max_n_probe, n_cells) if max_n_probe is not None else n_cells
        for n_probe in range(1, top + 1):
            approx = ivf_ann_topk(
                embeddings, id_col=id_col, vec_col=vec_col, query_ids=query_ids,
                k=k, n_cells=n_cells, n_probe=n_probe, kmeans_iters=kmeans_iters,
            )
            rows = topk_recall(exact, approx, k).collect()
            mean_recall = round(sum(r["recall"] for r in rows) / len(rows), 6)
            curve.append((n_probe, mean_recall))
            best = {"n_probe": n_probe, "recall": mean_recall, "curve": curve}
            if mean_recall >= target_recall:
                break
        return best
    finally:
        exact.unpersist()
