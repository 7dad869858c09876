"""Recall checks for the dedup family: the planted duplicates in
_docs_with_planted_dups must actually be FOUND (oracle parity alone
would accept a uselessly-strict operator that finds nothing)."""

from __future__ import annotations

import pytest

import __spark_entry__ as em

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted(spark):
    base = [r["doc_id"] for r in em._docs(spark, SF_DIR).select("doc_id").collect()]
    near = {d for d in base if d % 10 == 0}  # + ' extra token' clones at +1000000
    exact = {d for d in base if d % 20 == 0}  # verbatim clones at +2000000
    return near, exact


def test_planted_dups_keep_input_partitions(spark):
    # clones are emitted in-row, not unioned on: every Python stage
    # over the planted table runs one task per input partition
    docs = em._docs(spark, SF_DIR)
    planted = em._docs_with_planted_dups(spark, SF_DIR)
    assert planted.rdd.getNumPartitions() == docs.rdd.getNumPartitions()


def test_exact_dedup_finds_all_planted_clones(spark, planted):
    _, exact = planted
    rows = em.q_dedup_exact(spark, SF_DIR).collect()
    keepers = {r["keeper_doc_id"] for r in rows}
    assert exact <= keepers
    assert all(r["n_docs"] == 2 for r in rows)


def test_minhash_finds_near_dups(spark, planted):
    near, exact = planted
    pairs = {(r["doc_a"], r["doc_b"]) for r in em.q_dedup_minhash_lsh(spark, SF_DIR).collect()}
    # verbatim clones are collapsed by the exact-dedup pre-pass BEFORE
    # hashing — they must NOT resurface here (exact_duplicates owns them)
    leaked_exact = {d for d in exact if (d, d + 2000000) in pairs}
    assert not leaked_exact
    # ' extra token' clones share most shingles — high recall expected
    found_near = {d for d in near if (d, d + 1000000) in pairs}
    assert len(found_near) >= 0.8 * len(near)


def test_minhash_bucket_cap_bounds_boilerplate_blowup(spark):
    """>cap near-identical (but not verbatim) docs share every band ⇒
    one giant bucket; the cap must drop it instead of emitting O(m²)
    pairs, and the oversize bucket must be reportable for quarantine."""
    from claude_readability_hook_spark.operators.dedup import (
        exact_dedup_keepers,
        minhash_lsh_candidates,
        minhash_oversize_buckets,
    )

    n = 80  # > cap of 50
    # many distinct shingles ⇒ the 3 suffix shingles almost never win a
    # min ⇒ near-all docs share the full signature (one giant bucket)
    base = " ".join(f"word{j}" for j in range(300)) + " "
    rows = [(i, base + f"unique-{i}") for i in range(n)]
    # cap + 1 docs with the SAME shingle set (one period repeated r
    # times) but distinct text: every band is one bucket of exactly 51
    period = " ".join(f"loop{j}" for j in range(20)) + " "
    edge = list(range(1000, 1051))
    rows += [(d, period * (d - 998)) for d in edge]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # not exact dups — the pre-pass must keep all of them
    assert exact_dedup_keepers(df).count() == n + len(edge)

    pairs = minhash_lsh_candidates(df, max_bucket_size=50).collect()
    # uncapped this would be ~ n*(n-1)/2 = 3160 pairs from one bucket
    assert len(pairs) < n
    assert not {d for r in pairs for d in r} & set(edge)

    oversize = minhash_oversize_buckets(df, max_bucket_size=50).collect()
    assert oversize and all(r["n_docs"] > 50 for r in oversize)
    assert sum(r["n_docs"] == 51 for r in oversize) == 4  # one per band


def test_minhash_exact_clones_collapse_without_blowup(spark):
    """>cap VERBATIM clones: the exact pre-pass collapses them to one
    doc, so no bucket forms at all — and dedup_exact still reports the
    full clone group."""
    from claude_readability_hook_spark.operators.dedup import (
        exact_duplicates,
        minhash_lsh_candidates,
    )

    n = 80
    text = "identical boilerplate page content repeated verbatim " * 30
    rows = [(i, text) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    assert minhash_lsh_candidates(df, max_bucket_size=50).count() == 0
    groups = exact_duplicates(df).collect()
    assert len(groups) == 1 and groups[0]["n_docs"] == n
    assert groups[0]["keeper_doc_id"] == 0


def _plan(df) -> str:
    # the initial physical plan: built without running a job
    return df._jdf.queryExecution().executedPlan().toString()


def test_near_dup_pairs_run_one_python_stage(spark):
    """Signatures and shingles are the only Python stages: the bucket
    expansion runs in the JVM."""
    from claude_readability_hook_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    for op in (minhash_lsh_candidates, ngram_jaccard_pairs):
        plan = _plan(op(df))
        assert plan.count("MapInArrow") == 1, plan
        assert "posexplode" in plan


_PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def test_bucket_pairs_hot_bucket_streams_in_the_jvm(spark):
    from claude_readability_hook_spark.operators.blocking import bucket_pairs

    hot = spark.createDataFrame([(list(range(2000)),)], "ids array<long>")
    pairs = bucket_pairs(hot, "ids", None)
    assert not any(node in _plan(pairs) for node in _PYTHON_NODES)
    assert pairs.count() == 2000 * 1999 // 2


def test_bucket_pairs_equal_combinations_and_purge(spark):
    """Every i < j pair of each kept bucket, in member order; buckets
    above the cap are dropped and reported, a bucket AT the cap kept."""
    from itertools import combinations

    from claude_readability_hook_spark.operators.blocking import (
        bucket_pairs,
        oversize_buckets,
    )

    rows = [(k, [10 * k + j for j in range(k)]) for k in range(7)]
    rows += [(7, None), (8, [3, 3])]
    buckets = spark.createDataFrame(rows, "k long, ids array<long>")
    got = sorted(tuple(r) for r in bucket_pairs(buckets, "ids", 5).collect())
    want = sorted(
        p for _k, ids in rows if ids and len(ids) <= 5 for p in combinations(ids, 2)
    )
    assert got == want
    over = oversize_buckets(buckets, "ids", 5, ("k",), "n_ids").collect()
    assert [tuple(r) for r in over] == [(6, 6)]
    assert len(bucket_pairs(buckets, "ids", None).collect()) == len(want) + 15


def test_clusters_chain_components_to_min_label(spark):
    """Chained pairs (a-b, b-c) and a separate pair must resolve to
    min-label components — including a diameter > 1 chain, which takes
    two propagation rounds."""
    from claude_readability_hook_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (5, 22)],
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        5: 5, 20: 5, 21: 5, 22: 5,
    }


def test_clusters_path_graph_converges_in_log_rounds(spark):
    """A 50-link chain (diameter 49) must fully converge inside 10
    rounds — the pointer-jumping guarantee (O(log d), not O(d) driver
    round-trips). Without the jump, 10 rounds would leave the chain
    fragmented."""
    import warnings

    from claude_readability_hook_spark.operators.dedup import dedup_clusters

    n = 50
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # non-convergence would raise
        out = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(pairs, max_iterations=10).collect()
        }
    assert out == {i: 0 for i in range(n + 1)}


def test_clusters_warns_on_non_convergence(spark):
    """Hitting the round cap with labels still moving must WARN, not
    silently return fragmented clusters (ADVICE round 2)."""
    import warnings

    from claude_readability_hook_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup_clusters(pairs, max_iterations=1).collect()
    assert any("did not converge" in str(w.message) for w in caught)


def test_clusters_group_planted_dups(spark, planted):
    near, _exact = planted
    import __spark_entry__ as em2

    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in em2.q_dedup_clusters(spark, SF_DIR).collect()
    }
    # each found near-dup clone must share its original's cluster;
    # the canonical is the component min (LSH false-positive edges can
    # legitimately merge originals into one component)
    found = [d for d in near if d in clusters and d + 1000000 in clusters]
    assert len(found) >= 0.8 * len(near)
    for d in found:
        assert clusters[d + 1000000] == clusters[d] <= d


def test_jaccard_verifies_near_dups(spark, planted):
    near, exact = planted
    rows = em.q_dedup_ngram_jaccard(spark, SF_DIR).collect()
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    for d in exact:
        assert jac.get((d, d + 2000000)) == pytest.approx(1.0)
    found = [jac[(d, d + 1000000)] for d in near if (d, d + 1000000) in jac]
    assert len(found) >= 0.9 * len(near)
    assert all(j >= 0.5 for j in found)


def test_simhash_exact_clones_collide(spark):
    # verbatim text ⇒ identical simhash; check via the planted-dup view
    from claude_readability_hook_spark.operators.dedup import simhash

    df = em._docs_with_planted_dups(spark, SF_DIR)
    sh = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    for d in list(sh):
        if d >= 2000000:
            assert sh[d] == sh[d - 2000000]
