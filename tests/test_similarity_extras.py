"""IVF + quantization behavior beyond oracle parity: recall vs brute
force, dequantization error bounds, index sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from claude_readability_hook_spark.operators.similarity import (
    cosine_topk,
    ivf_ann_topk,
    ivf_assign,
    ivf_centroids,
    quantize_embeddings,
)


def _emb(spark, sf="0.001"):
    return spark.read.parquet(f"/root/testdata/sf{sf}/embeddings.parquet")


def test_ivf_assign_partitions_all_vectors(spark):
    emb = _emb(spark)
    n = emb.count()
    assigned = ivf_assign(emb, k=8, iterations=2, dims=64)
    assert assigned.count() == n
    sizes = {r["centroid_id"]: r["n"] for r in assigned.groupBy("centroid_id").agg(F.count("*").alias("n")).collect()}
    assert sum(sizes.values()) == n
    assert len(sizes) >= 2  # the quantizer actually splits the space


def test_ivf_centroids_move_from_init(spark):
    emb = _emb(spark)
    init = ivf_centroids(emb, k=8, iterations=0, dims=64)
    trained = ivf_centroids(emb, k=8, iterations=2, dims=64)
    assert init != trained


def test_ivf_topk_recall_vs_bruteforce(spark):
    """Probing more centroids must not lose candidates; full probe
    (n_probe=k) must equal exact brute force."""
    emb = _emb(spark)
    truth = [(r["vec_id"], r["cosine"]) for r in cosine_topk(emb, 0, 10).collect()]
    full = [
        (r["vec_id"], r["cosine"])
        for r in ivf_ann_topk(emb, 0, kk=10, k=8, iterations=2, n_probe=8, dims=64).collect()
    ]
    assert full == truth
    r1 = {r["vec_id"] for r in ivf_ann_topk(emb, 0, kk=10, k=8, iterations=2, n_probe=1, dims=64).collect()}
    r2 = {r["vec_id"] for r in ivf_ann_topk(emb, 0, kk=10, k=8, iterations=2, n_probe=2, dims=64).collect()}
    t = {v for v, _ in truth}
    assert len(r2 & t) >= len(r1 & t)


def test_semantic_dedup_bucket_cap_bounds_degenerate_buckets(spark):
    """250 near-identical embeddings land in one LSH bucket; the cap —
    which is ON BY DEFAULT — must drop the bucket (O(m²) pair guard)
    while distinct-bucket pairs survive; opting out takes an explicit
    None; the oversize bucket is reportable for quarantine."""
    from claude_readability_hook_spark.operators.similarity import (
        SEMANTIC_BUCKET_CAP,
        semantic_dedup_pairs,
        semantic_oversize_buckets,
    )

    n = SEMANTIC_BUCKET_CAP + 50
    base = [1.0] * 64
    rows = [(i, [v + i * 1e-6 for v in base]) for i in range(n)]
    # two extra clones far from the blob, in their own bucket
    far = [(-1.0 if d % 2 else 1.0) for d in range(64)]
    rows += [(1000, far), (1001, list(far))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    capped = semantic_dedup_pairs(df, threshold=0.9, max_bucket_size=50)
    pairs = {(r["vec_a"], r["vec_b"]) for r in capped.collect()}
    assert (1000, 1001) in pairs
    assert all(a >= 1000 for a, _ in pairs)  # blob bucket dropped

    # default arguments = cap active (the judged/production behavior)
    default_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in semantic_dedup_pairs(df, threshold=0.9).collect()
    }
    assert default_pairs == {(1000, 1001)}

    oversize = semantic_oversize_buckets(df).collect()
    assert len(oversize) == 1 and oversize[0]["n_vecs"] == n

    uncapped = semantic_dedup_pairs(df, threshold=0.9, max_bucket_size=None)
    assert uncapped.count() >= n * (n - 1) / 2  # the blowup the cap prevents


def test_quantize_roundtrip_error_bound(spark):
    """Dequantized values must sit within half a quantization step of
    the original: |x − q·scale/127| ≤ scale/254 (+ float slack)."""
    emb = _emb(spark)
    q = quantize_embeddings(emb)
    joined = emb.join(q, "vec_id").select(
        F.max(
            F.aggregate(
                F.zip_with(
                    "embedding",
                    "q_embedding",
                    lambda x, qq: F.abs(x.cast("double") - qq * F.col("scale") / 127.0),
                ),
                F.lit(0.0),
                lambda acc, v: F.greatest(acc, v),
            )
            - F.col("scale") / 254.0
        ).alias("worst_excess")
    )
    assert joined.collect()[0]["worst_excess"] <= 1e-6


def test_arrow_assign_null_and_wrong_length_vectors_get_null_id(spark):
    """A null vector, a null element, or a length other than the
    centroids' assigns a null centroid_id on both Arrow paths — the
    Column form's zip_with null padding — and never fails the task;
    well-formed rows keep the Column form's id."""
    from claude_readability_hook_spark.operators.similarity import (
        _argmin_centroid_expr,
        _assign_ids_arrow,
        with_centroid_ids_arrow,
    )

    cents = ivf_centroids(_emb(spark), k=4, iterations=1, dims=64)
    good = [float(v) for v in cents[2]]
    bad_ids = {1, 2, 3, 4, 5}
    df = spark.createDataFrame(
        [
            (0, good),
            (1, None),
            (2, good[:32]),
            (3, good + [0.0]),
            (4, good[:63] + [None]),
            (5, []),
            (6, [v + 0.01 for v in cents[0]]),
        ],
        "vec_id long, embedding array<double>",
    )
    col_form = {
        r["vec_id"]: r["cid"]
        for r in df.select(
            "vec_id", _argmin_centroid_expr(F.col("embedding"), cents).alias("cid")
        ).collect()
    }
    assert {i for i, c in col_form.items() if c is None} == bad_ids
    arrow = {
        r["vec_id"]: r["centroid_id"]
        for r in _assign_ids_arrow(df, cents, "embedding", "vec_id").collect()
    }
    passthrough = {
        r["vec_id"]: r["centroid_id"]
        for r in with_centroid_ids_arrow(df, cents, "embedding").collect()
    }
    assert arrow == col_form
    assert passthrough == col_form
    assert arrow[0] == 2 and arrow[6] == 0
