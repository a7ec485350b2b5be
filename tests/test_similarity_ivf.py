"""Vector operators: IVF/LSH/PQ determinism and recall against the exact
brute-force baseline, zero vectors under ANSI mode, and pq_topk input checks."""

import os

import pytest
from pyspark.sql import functions as F

from change_data_capturer_ms_spark.operators import brute_force_topk, ivf_topk


def test_ivf_recall_and_determinism(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 5)

    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, n_cells=8, nprobe=3)

    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"

    # seeded KMeans + fixed iterations => rerun is identical
    again = {(r["query_id"], r["neighbor_id"]) for r in
             ivf_topk(emb, queries, k=5, n_cells=8, nprobe=3).collect()}
    assert a == again


def test_ivf_det_recall_and_multiprobe_lift(spark, sf_dir):
    """Deterministic-quantizer IVF: decent recall vs brute force; multi-probe
    LSH: recall never below the single-probe variant."""
    from change_data_capturer_ms_spark.operators import ivf_topk_det, lsh_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 5)

    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb, queries, k=5).collect()}
    det = {(r["query_id"], r["neighbor_id"])
           for r in ivf_topk_det(emb, queries, k=5, n_cells=8, nprobe=3).collect()}
    # hash-seeded centroids trade some recall vs learned KMeans cells (ivf_topk
    # asserts >= 0.5 above) for exact oracle-checkability
    assert len(exact & det) / len(exact) >= 0.4

    # probing every cell degenerates to the exact scan — recall must be 1.0
    full = {(r["query_id"], r["neighbor_id"])
            for r in ivf_topk_det(emb, queries, k=5, n_cells=8, nprobe=8).collect()}
    assert full == exact

    single = {(r["query_id"], r["neighbor_id"])
              for r in lsh_topk(emb, queries, k=5, bits=4).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in lsh_topk(emb, queries, k=5, bits=4, multiprobe=True).collect()}
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    # these near-random synthetic embeddings give the axis-sign bucketer little
    # to work with (r_single ≈ 0.08); the point is the multi-probe LIFT at
    # unchanged plan shape: scanning bits+1 of 2^bits buckets multiplies recall
    assert r_multi >= r_single + 0.1, (r_single, r_multi)
    assert r_multi >= 0.25, f"multi-probe recall too low: {r_multi}"


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    """Product-quantization ANN: decent recall vs brute force after exact
    re-rank; fully deterministic (hash-seeded codebooks, no training)."""
    from change_data_capturer_ms_spark.operators import pq_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb, queries, k=5).collect()}
    # near-random 64-dim vectors need fine subspaces: 4-dim × 32 codes gives
    # recall ≈ 0.9 at rerank=30; coarse m=4 × 16 codes measures ≈ 0.16
    got = {(r["query_id"], r["neighbor_id"])
           for r in pq_topk(emb, queries, k=5, m=16, n_codes=32, rerank=30).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.7, f"PQ recall too low: {recall}"
    again = {(r["query_id"], r["neighbor_id"])
             for r in pq_topk(emb, queries, k=5, m=16, n_codes=32, rerank=30).collect()}
    assert got == again
    # rerank == corpus size degenerates to exact search
    n = emb.count()
    full = {(r["query_id"], r["neighbor_id"])
            for r in pq_topk(emb, queries, k=5, m=16, n_codes=32, rerank=n).collect()}
    assert full == exact


def _zero_vector_corpus(spark):
    """Five 4-dim vectors: id 0 is the zero vector, 1 and 2 near-duplicates."""
    return spark.createDataFrame([
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.2, 0.1, 0.0]),
        (2, [1.0, 0.2, 0.1, 0.01]),
        (3, [-1.0, 0.5, 0.3, 0.2]),
        (4, [0.1, -1.0, 0.4, 0.3]),
    ], "vec_id long, embedding array<double>")


def test_zero_vector_in_corpus_and_queries(spark):
    """A zero vector has no cosine (NULL, not DIVIDE_BY_ZERO under ANSI): it
    ranks after every scored neighbour and is never a near-duplicate."""
    from change_data_capturer_ms_spark.operators import (
        embedding_near_dup_pairs,
        ivf_topk_det,
        lsh_topk,
        pq_topk,
        semdedup,
    )

    df = _zero_vector_corpus(spark)
    queries = df.filter(F.col("vec_id") <= 1)
    results = {
        "brute": brute_force_topk(df, queries, k=4),
        "lsh": lsh_topk(df, queries, k=4, bits=2, multiprobe=True),
        "ivf_det": ivf_topk_det(df, queries, k=4, n_cells=2, nprobe=2),
        "pq": pq_topk(df, queries, k=4, m=2, n_codes=2, rerank=4),
    }
    for name, res in results.items():
        by_q = {}
        for r in res.orderBy("query_id", "rank").collect():
            by_q.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
        # the zero query scores nothing; its neighbours rank by id
        assert all(cos is None for _, cos in by_q[0]), (name, by_q[0])
        assert [n for n, _ in by_q[0]] == sorted(n for n, _ in by_q[0]), name
        # query 1: every candidate is probed (k = corpus - 1); the scored
        # neighbours come first, descending, and the zero vector last
        scored = [cos for _, cos in by_q[1][:-1]]
        assert None not in scored and scored == sorted(scored, reverse=True), name
        assert by_q[1][-1] == (0, None), (name, by_q[1])

    kept = sorted(r["vec_id"] for r in semdedup(df, tau=0.99, n_cells=1).collect())
    assert kept == [0, 1, 3, 4]
    pairs = [(r["id_a"], r["id_b"]) for r in
             embedding_near_dup_pairs(df, threshold=0.99, bits=1).collect()]
    assert pairs == [(1, 2)]


def test_pq_topk_empty_corpus_returns_empty_result(spark):
    from change_data_capturer_ms_spark.operators import pq_topk

    df = _zero_vector_corpus(spark)
    out = pq_topk(df.limit(0), df, k=3, m=2, n_codes=2)
    assert out.count() == 0
    assert out.dtypes == pq_topk(df, df, k=3, m=2, n_codes=2).dtypes


def test_pq_topk_rejects_m_not_dividing_dim(spark):
    from change_data_capturer_ms_spark.operators import pq_topk

    df = _zero_vector_corpus(spark)
    with pytest.raises(ValueError, match=r"m=3 .*dim=4"):
        pq_topk(df, df, k=3, m=3)
