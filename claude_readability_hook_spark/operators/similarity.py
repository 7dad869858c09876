"""Similarity search over embedding columns (array<float>).

Two paths, as the scale ladder demands:

  cosine_topk        brute-force exact top-k against one query vector —
                     a single narrow projection + global top-k; the
                     correctness baseline and the right tool when the
                     query set is small (broadcastable)
  signed_projection_lsh_buckets
                     deterministic random-hyperplane LSH: docs hash to
                     a bucket id from the signs of projections onto
                     pseudo-random ±1 hyperplanes (derived from md5 so
                     any engine reproduces them). ANN = brute-force
                     within the probe's bucket only — turns a 10^12-row
                     scan into a bucket-local one

All arithmetic is double-precision in-row array math
(F.aggregate/zip_with → whole-stage codegen, no Python); scores are
rounded to 6dp so cross-engine value hashes agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .._pyworker import python_stage


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame, query_vec_id: int = 0, k: int = 10, vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k by cosine to the embedding of query_vec_id.

    The single query row is crossJoin-broadcast (1 row — Catalyst
    broadcasts it for free); candidates never shuffle, the top-k is a
    TakeOrdered on (score desc, vec_id). At cluster scale this plan is
    scan + local top-k + driver merge — optimal for exact ANN."""
    query = df.filter(F.col("vec_id") == query_vec_id).select(
        F.col(vec_col).alias("query_vec")
    )
    return (
        df.crossJoin(F.broadcast(query))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.round(cosine_expr(F.col(vec_col), F.col("query_vec")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def hyperplane_components(plane: int, dims: int) -> list[float]:
    """±1 components of pseudo-random hyperplane `plane`: +1 if the
    first hex char of md5('<plane>-<d>') is even, else −1. Computed
    driver-side with hashlib (bit-identical to any engine's md5) so the
    runtime expression is pure literal arithmetic — no per-row hashing.

    DuckDB twin of the component sign:
      CASE WHEN strpos('02468ace', substr(md5(p||'-'||d), 1, 1)) > 0
           THEN 1 ELSE -1 END
    """
    import hashlib

    return [
        1.0 if hashlib.md5(f"{plane}-{d}".encode()).hexdigest()[0] in "02468ace" else -1.0
        for d in range(dims)
    ]


def hyperplane_proj_expr(vec: Column, plane: int, dims: int) -> Column:
    """Projection onto hyperplane `plane`: zip_with against the literal
    sign array + aggregate. (A flat 64-term sum per plane was measured
    6× slower — the generated method blows past the JIT inlining budget
    and drops to interpreted evaluation.)"""
    signs = F.array(*[F.lit(s) for s in hyperplane_components(plane, dims)])
    return F.aggregate(
        F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def hyperplane_sign_expr(vec: Column, plane: int, dims: int) -> Column:
    return (hyperplane_proj_expr(vec, plane, dims) > 0).cast("int")


def lsh_bucket_expr(vec: Column, num_planes: int = 8, dims: int = 64) -> Column:
    """bucket = Σ sign_p · 2^p over num_planes hyperplanes — a pure
    per-row expression. Always ATTACH it with withColumn/select; joining
    a separately-computed bucket table back on vec_id would shuffle the
    full embedding column for a value derivable in place."""
    bucket = None
    for p in range(num_planes):
        term = hyperplane_sign_expr(vec, p, dims).cast("long") * F.lit(2**p).cast(
            "long"
        )
        bucket = term if bucket is None else bucket + term
    return bucket


def signed_projection_lsh_buckets(
    df: DataFrame, num_planes: int = 8, dims: int = 64, vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, bucket) — same-bucket vectors are ANN candidates."""
    return df.select(
        "vec_id", lsh_bucket_expr(F.col(vec_col), num_planes, dims).alias("bucket")
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", bits: int = 8
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q = round(127·x/max|x|).

    The storage/bandwidth lever for ANN at 10^12 vectors: a 64-dim
    float32 embedding is 256 B; int8 + one float scale is 68 B — the
    shuffle and cache working set shrinks ~4×. Pure in-row array math
    (codegen); dequantize via q·scale/127. Zero vectors quantize to
    zeros with scale 0."""
    levels = float(2 ** (bits - 1) - 1)
    vec = F.col(vec_col)
    amax_expr = F.aggregate(
        F.transform(vec, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )

    # let-bind amax via the array+transform trick (the shingles_expr
    # discipline): embedded directly in the per-element lambda it is
    # re-evaluated for EVERY element — an O(dims) reduction run dims
    # times per row, all interpreted (higher-order functions are
    # CodegenFallback)
    def q_of(amax):
        return F.when(amax > 0, F.transform(
            vec, lambda x: F.round(x.cast("double") * levels / amax).cast("int")
        )).otherwise(F.transform(vec, lambda x: F.lit(0)))

    q = F.element_at(F.transform(F.array(amax_expr), q_of), 1)
    return df.select(
        "vec_id",
        q.alias("q_embedding"),
        # engine-portable digest of the int vector for value comparison
        F.md5(F.concat_ws(",", F.transform(q, lambda v: v.cast("string")))).alias(
            "q_md5"
        ),
        F.round(amax_expr, 6).alias("scale"),
    )


def _sq_dist_expr(vec: Column, cvec: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            vec, cvec, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _argmin_centroid_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """In-row argmin over k literal centroid arrays, ties to the lower
    id (array_position returns the FIRST match).

    Shape matters, twice over: (a) a chained when(d < best_d, ...) fold
    references the running best twice per step, so Catalyst's
    expression tree doubles per centroid — 2^k copies of the distance
    math (measured 16 s where this takes 0.5 s); (b) unrolling one
    distance expression per centroid made janino compile k copies of
    the loop body per job. A single literal k×dims array with ONE
    transform lambda keeps the generated code a loop."""
    cents = F.array(*[F.array(*[F.lit(c) for c in cv]) for cv in centroids])
    dists = F.transform(cents, lambda cv: _sq_dist_expr(vec, cv))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def probe_cids_expr(
    vec: Column, centroids: list[list[float]], n_probe: int
) -> Column:
    """array<int> of the n_probe centroid ids nearest `vec` — the
    IN-ROW probe selection a k-NN JOIN needs (one probe set per query
    row; the single-query paths pick probes driver-side instead).
    Distances round to 6dp before the sort so any engine orders
    identically; ties break to the lower cid (struct sort)."""
    cents = F.array(*[F.array(*[F.lit(c) for c in cv]) for cv in centroids])
    scored = F.transform(
        cents,
        lambda cv, i: F.struct(
            F.round(_sq_dist_expr(vec, cv), 6).alias("dist"), i.alias("cid")
        ),
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, n_probe), lambda s: s["cid"].cast("int")
    )


def ivf_centroids(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    dims: int = 64,
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> list[list[float]]:
    """Lloyd-iterated centroids from a deterministic init (the
    embeddings of vec_ids 0..k-1 — reproducible in any engine, no RNG).

    The scale shape of each step: centroids (k×dims floats, a few KB)
    collect to the driver and re-enter as BROADCAST literals;
    assignment is an in-row argmin (no shuffle); the update is one
    groupBy(centroid).avg whose map-side partials make the shuffle k
    rows per partition. Means round to 6dp so cross-engine float
    accumulation order can't flip a later argmin. Empty clusters keep
    their previous centroid.

    sample_mod: train on the deterministic hash-sample
    h32(vec_id) % sample_mod == 0 (~1/sample_mod of the corpus) —
    k-means quality needs a representative sample, not every vector,
    and at 10^12 rows full-corpus Lloyd iterations are the dominant
    index-build cost. RNG-free (same h32 as train_val_split), so any
    engine reproduces the identical centroids. None = train on all
    rows (exact legacy behavior)."""
    from .dedup import h32_expr

    train = df
    if sample_mod is not None:
        train = df.filter(
            (h32_expr(F.col("vec_id").cast("string")) % sample_mod) == 0
        )
    centroids = [
        [float(v) for v in r[vec_col]]
        for r in df.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    ]
    for _ in range(iterations):
        assigned = train.select(
            _argmin_centroid_expr(F.col(vec_col), centroids).alias("cid"),
            *[
                F.element_at(vec_col, d + 1).cast("double").alias(f"d{d}")
                for d in range(dims)
            ],
        )
        means = assigned.groupBy("cid").agg(
            *[F.avg(f"d{d}").alias(f"d{d}") for d in range(dims)]
        ).collect()
        new_centroids = list(centroids)
        for r in means:
            new_centroids[r["cid"]] = [round(r[f"d{d}"], 6) for d in range(dims)]
        centroids = new_centroids
    return centroids


def _nearest_centroid_ids(vecs: list, cents: list[list[float]]):
    """int32 Arrow array of argmin centroid ids over `vecs` (a batch's
    to_pylist()), bit-exact with _argmin_centroid_expr (r9,
    differential-tested): (x-c)² elementwise in float64 is the same
    IEEE op sequence as the Column form's per-element math, np.cumsum
    is SEQUENTIAL accumulation so its last column equals the
    0.0-seeded left fold (0.0+t0 == t0), and np.argmin returns the
    FIRST minimum — the array_position tie rule. A null vector, a
    null element, or a length other than the centroids' gives a null
    id, as the Column form's zip_with null padding does."""
    import numpy as np
    import pyarrow as pa

    C = np.array(cents, dtype=np.float64)  # k × dims
    dims = C.shape[1]
    ok = np.array(
        [v is not None and len(v) == dims and None not in v for v in vecs],
        dtype=bool,
    )
    ids = np.zeros(len(vecs), dtype=np.int32)
    if ok.any():
        V = np.array([v for v, good in zip(vecs, ok) if good], dtype=np.float64)
        # per centroid: elementwise (x-c)², then sequential cumsum —
        # the exact left-fold sum; stack and first-min argmin
        dists = np.stack(
            [np.cumsum((V - C[j]) ** 2, axis=1)[:, -1] for j in range(len(C))],
            axis=1,
        )
        ids[ok] = np.argmin(dists, axis=1)
    return pa.array(ids, type=pa.int32(), mask=~ok)


def _assign_ids_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_col, centroid_id) via the NumPy argmin of
    _nearest_centroid_ids. The higher-order Column form is
    CodegenFallback (interpreted per element per centroid); this runs
    the same arithmetic as native batch loops."""
    base = df.select(id_col, F.col(vec_col).alias("v"))
    id_type = base.schema[id_col].dataType.simpleString()
    cents = [list(map(float, cv)) for cv in centroids]

    def assign(batches):
        import pyarrow as pa

        for batch in batches:
            ids = _nearest_centroid_ids(batch.column("v").to_pylist(), cents)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), ids], names=[id_col, "centroid_id"]
            )

    return base.mapInArrow(
        python_stage(assign), schema=f"{id_col} {id_type}, centroid_id int"
    )


def with_centroid_ids_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """df + centroid_id, all input columns passed through verbatim —
    the withColumn-shaped twin of _assign_ids_arrow for the index
    BUILD paths (same bit-exact argmin; one Arrow stage instead of an
    interpreted per-element fold per row per centroid)."""
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    vec_idx = df.columns.index(vec_col)
    cents = [list(map(float, cv)) for cv in centroids]

    def assign(batches):
        import pyarrow as pa

        for batch in batches:
            ids = _nearest_centroid_ids(batch.column(vec_idx).to_pylist(), cents)
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)] + [ids],
                names=list(batch.schema.names) + ["centroid_id"],
            )

    return df.mapInArrow(python_stage(assign), schema=f"{schema}, centroid_id int")


def ivf_assign(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    dims: int = 64,
    vec_col: str = "embedding",
    sample_mod: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF coarse quantizer: (vec_id, centroid_id). The inverted lists
    this induces are the IVF ANN index; ann_index.build_ivf_index
    materializes them partitioned by centroid_id so probes prune at
    scan. The full-corpus assignment runs the Arrow argmin twin
    (_assign_ids_arrow — bit-equal to the Column form, r9)."""
    if centroids is None:
        centroids = ivf_centroids(df, k, iterations, dims, vec_col, sample_mod)
    return _assign_ids_arrow(df, centroids, vec_col, "vec_id")


def ivf_ann_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    kk: int = 10,
    k: int = 8,
    iterations: int = 2,
    n_probe: int = 2,
    dims: int = 64,
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: brute-force cosine only within the inverted lists of
    the n_probe centroids nearest the query — the classic
    coarse-quantizer search (public algorithm; cf. FAISS IVF-Flat).

    The candidate scan is ≈ n_probe/k of the corpus; probe-centroid
    selection happens driver-side on the k×dims literal centroids
    (no job). Same broadcast-query/TakeOrdered shape as cosine_topk.
    Pass precomputed `centroids` to amortize index construction across
    queries (training is the expensive, iterative part)."""
    if centroids is None:
        centroids = ivf_centroids(df, k, iterations, dims, vec_col)
    qvec = [
        float(v)
        for v in df.filter(F.col("vec_id") == query_vec_id).collect()[0][vec_col]
    ]
    dists = sorted(
        (sum((x - c) * (x - c) for x, c in zip(qvec, cv)), cid)
        for cid, cv in enumerate(centroids)
    )
    probe_cids = sorted(cid for _d, cid in dists[:n_probe])
    assigned = df.withColumn(
        "centroid_id", _argmin_centroid_expr(F.col(vec_col), centroids)
    )
    query_vec = df.filter(F.col("vec_id") == query_vec_id).select(
        F.col(vec_col).alias("query_vec")
    )
    return (
        assigned.filter(F.col("centroid_id").isin(probe_cids))
        .crossJoin(F.broadcast(query_vec))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.round(cosine_expr(F.col(vec_col), F.col("query_vec")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(kk)
    )


SEMANTIC_BUCKET_CAP = 200


def semantic_oversize_buckets(
    df: DataFrame,
    num_planes: int = 6,
    dims: int = 64,
    vec_col: str = "embedding",
    max_bucket_size: int = SEMANTIC_BUCKET_CAP,
) -> DataFrame:
    """(bucket, n_vecs) for LSH buckets over the cap — the quarantine
    report for what semantic_dedup_pairs excluded (mirror of
    minhash_oversize_buckets). Narrow: shuffles bucket ids only."""
    return (
        df.select(lsh_bucket_expr(F.col(vec_col), num_planes, dims).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
        .filter(F.col("n_vecs") > max_bucket_size)
    )


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    num_planes: int = 6,
    dims: int = 64,
    vec_col: str = "embedding",
    max_bucket_size: int | None = SEMANTIC_BUCKET_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-gated.

    Brute-force all-pairs cosine is quadratic — a non-starter at scale.
    Candidates are restricted to pairs sharing an LSH bucket (recall
    tunable via num_planes; multi-probe extends it), then verified by
    exact cosine ≥ threshold. The bucket is attached in-row
    (lsh_bucket_expr) — no self-join, so the embedding column is
    shuffled exactly once, by the bucket-key pair join itself.

    max_bucket_size is the same fanout guard as minhash's: a degenerate
    bucket (near-identical embeddings en masse) would pair-expand
    quadratically; buckets above the cap are excluded via a NARROW
    (bucket, count) anti-join — one extra shuffle of bucket ids, never
    embeddings. The cap is ON by default (a degenerate bucket at 10^12
    vectors is an outage, not a tuning knob); pass None explicitly to
    opt out, and use semantic_oversize_buckets for the quarantine
    report of what was excluded."""
    with_buckets = df.select(
        "vec_id", vec_col, lsh_bucket_expr(F.col(vec_col), num_planes, dims).alias("bucket")
    )
    if max_bucket_size is not None:
        oversized = (
            with_buckets.groupBy("bucket")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket_size)
            .select("bucket")
        )
        with_buckets = with_buckets.join(oversized, "bucket", "left_anti")
    a = with_buckets.alias("a")
    b = with_buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def multi_probe_buckets_expr(
    vec: Column, n_probe: int = 2, num_planes: int = 8, dims: int = 64
) -> Column:
    """array<long> of a row's multi-probe buckets: its own bucket plus
    the n_probe buckets reached by flipping its LEAST-CONFIDENT bits —
    the planes with the smallest |projection|, i.e. the hyperplanes
    the vector sits closest to, where true neighbors most likely
    landed on the other side (the classic multi-probe LSH heuristic;
    public algorithm). Pure in-row Column algebra (array of
    (|proj|, plane) structs → array_sort → slice → XOR via a 2^p
    lookup), so it runs per QUERY ROW in a k-NN join as well as on a
    single probe row; confidences round to 6dp so any engine sorts
    identically."""
    conf = F.array(
        *[
            F.struct(
                F.round(F.abs(hyperplane_proj_expr(vec, p, dims)), 6).alias("conf"),
                F.lit(p).alias("plane"),
            )
            for p in range(num_planes)
        ]
    )
    flips = F.slice(F.array_sort(conf), 1, n_probe)
    pow2 = F.array(*[F.lit(2**p).cast("long") for p in range(num_planes)])
    bucket = lsh_bucket_expr(vec, num_planes, dims)
    return F.array_union(
        F.array(bucket),
        F.transform(flips, lambda s: bucket.bitwiseXOR(F.element_at(pow2, s["plane"] + 1))),
    )


def lsh_query_probes(
    df: DataFrame,
    query_vec_id: int = 0,
    n_probe: int = 2,
    num_planes: int = 8,
    dims: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe set for one query row (see
    multi_probe_buckets_expr). Returns (probe_bucket), sorted-unique,
    ≤ n_probe+1 rows."""
    q = df.filter(F.col("vec_id") == query_vec_id)
    probes = multi_probe_buckets_expr(F.col(vec_col), n_probe, num_planes, dims)
    return (
        q.select(F.explode(probes).alias("probe_bucket"))
        .distinct()
        .orderBy("probe_bucket")
    )


def lsh_ann_topk_multiprobe(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_probe: int = 2,
    num_planes: int = 8,
    dims: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN over the multi-probe bucket set: recall strictly dominates
    single-probe lsh_ann_topk (its probe set is a superset) at the cost
    of scanning ≈ (n_probe+1)·N/2^num_planes candidates instead of
    N/2^num_planes. The probe set (≤ n_probe+1 rows) broadcasts."""
    with_buckets = df.withColumn(
        "bucket", lsh_bucket_expr(F.col(vec_col), num_planes, dims)
    )
    probes = lsh_query_probes(df, query_vec_id, n_probe, num_planes, dims, vec_col)
    query_vec = df.filter(F.col("vec_id") == query_vec_id).select(
        F.col(vec_col).alias("query_vec")
    )
    return (
        with_buckets.join(F.broadcast(probes), F.col("bucket") == F.col("probe_bucket"))
        .crossJoin(F.broadcast(query_vec))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.round(cosine_expr(F.col(vec_col), F.col("query_vec")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def lsh_ann_topk(
    df: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    num_planes: int = 8,
    dims: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: brute-force cosine only within the query's LSH bucket.

    Recall < 1.0 by construction (single-probe); lsh_ann_topk_multiprobe
    extends recall by also scanning the buckets at Hamming distance 1.
    The candidate scan is |bucket| ≈ N / 2^num_planes rows instead of N.
    The bucket is attached in-row (lsh_bucket_expr) — no self-join."""
    with_buckets = df.withColumn(
        "bucket", lsh_bucket_expr(F.col(vec_col), num_planes, dims)
    )
    query_bucket = with_buckets.filter(F.col("vec_id") == query_vec_id).select(
        F.col("bucket").alias("qb")
    )
    query_vec = df.filter(F.col("vec_id") == query_vec_id).select(
        F.col(vec_col).alias("query_vec")
    )
    return (
        with_buckets.join(F.broadcast(query_bucket), F.col("bucket") == F.col("qb"))
        .crossJoin(F.broadcast(query_vec))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.round(cosine_expr(F.col(vec_col), F.col("query_vec")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )
