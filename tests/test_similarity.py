"""Similarity search, near-duplicate detection and clustering operators:
IVF / LSH / PQ top-k recall against brute force, shingle-Jaccard dedup,
label-propagation dedup clusters and distributed k-means."""

from tests.conftest import TESTDATA


def test_ivf_recall_vs_brute_force(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators.similarity import brute_force_topk, ivf_topk

    sf = f"{TESTDATA}/sf0.01"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 5)
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(e, q, k=5).collect()}
    approx = {(r.query_id, r.vec_id) for r in ivf_topk(e, q, k=5, n_probe=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall} too low"


def test_jaccard_exact_on_threshold_boundary(spark):
    """jaccard == threshold exactly (4/5 with t=0.8) must be kept in both
    the prefix-filtered and naive plans despite binary-FP threshold math."""
    from ocr_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6 t7"),   # 5 shingles
            (2, "t1 t2 t3 t4 t5 t6"),      # 4 shingles, all shared -> J=0.8
            (3, "u1 u2 u3 u4 u5"),
        ],
        "doc_id long, text string",
    )
    for pf in (True, False):
        rows = ngram_jaccard_pairs(docs, threshold=0.8, prefix_filter=pf).collect()
        assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 0.8)], pf


def test_cross_corpus_jaccard_dedup(spark):
    """Incremental ingestion gate: a NEW doc is dropped iff its exact
    shingle Jaccard vs ANY existing doc is >= threshold; new-vs-new dups
    are deliberately NOT compared (only the R-S join runs)."""
    from ocr_spark.operators.dedup import cross_corpus_jaccard_dedup

    old = spark.createDataFrame(
        [
            (2, "t1 t2 t3 t4 t5 t6 t7"),      # 5 shingles
            (4, "x1 x2 x3 x4 x5"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6"),         # J=4/5 vs old#2 -> dropped
            (3, "t1 t2 t3 u4 u5 u6 u7"),      # J=1/9 vs old#2 -> kept
            (5, "q1 q2 q3 q4 q5"),            # dup of new#7: kept (new x new skipped)
            (7, "q1 q2 q3 q4 q5"),
            (9, "x1 x2 x3 x4 x5 n1 n2 n3"),   # J=3/6=0.5 vs old#4: boundary -> dropped
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in cross_corpus_jaccard_dedup(new, old, threshold=0.5).collect()
    )
    assert kept == [3, 5, 7]


def test_dedup_clusters_label_propagation(spark):
    from ocr_spark.operators.dedup import dedup_clusters

    # two chains + one pair: {1,2,3,4}, {10,11}, {20,21,22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 22), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_clusters_long_chain_pointer_jumping(spark):
    """A 40-doc chain (diameter 39) must converge well inside max_iters via
    pointer jumping, and non-convergence must raise, never return split
    clusters silently."""
    import pytest

    from ocr_spark.operators.dedup import dedup_clusters

    chain = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs, max_iters=10).collect()}
    assert set(got.values()) == {0} and len(got) == 41

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iters=1)


def test_lsh_multiprobe_recall_vs_brute_force(spark):
    """VERDICT r01 item 7: multi-table LSH must hit recall@5 >= 0.9 vs the
    exact brute force at sf0.1 (the single-band variant was untested/low).

    This corpus's true top-5 neighbors sit at cosine 0.25-0.49 — a hard
    regime for sign-LSH (per-plane agreement ~0.6) — so the test uses
    NARROW buckets (3 planes) x 12 tables; web-scale near-dup corpora
    (cosine >= 0.8) would use 8+ planes for selectivity at equal recall.
    """
    from pyspark.sql import functions as F

    from ocr_spark.operators.similarity import brute_force_topk, lsh_bucket_topk

    sf = f"{TESTDATA}/sf0.1"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 10)
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(e, q, k=5).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in lsh_bucket_topk(e, q, k=5, n_planes=3, n_tables=12).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH multiprobe recall {recall} too low"


def test_pq_recall_vs_exact_l2(spark):
    """PQ/ADC is lossy by design (8 subspaces x 64 codes = 8 bytes/vector);
    the quality contract is top-k recall of the ADC-shortlist +
    exact-re-rank pipeline against the exact integer-L2 ground truth (ADC
    approximates L2, not cosine). The determinism contract (bit-identical
    training/codes/distances at any parallelism) is carried by the DuckDB
    replay oracle of query pq_ann."""
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_spark.operators.similarity import KMEANS_QUANT, pq_topk

    sf = f"{TESTDATA}/sf0.01"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    rows_e = e.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows_e])
    Q = np.floor(
        np.array([r.embedding for r in rows_e], dtype=np.float64) * KMEANS_QUANT
    ).astype(np.int64)
    exact = set()
    for qi in range(10):
        d = ((Q - Q[qi]) ** 2).sum(axis=1)
        d[qi] = 1 << 62
        for v in ids[np.lexsort((ids, d))[:5]]:
            exact.add((qi, int(v)))

    q = e.where(F.col("vec_id") < 10)
    rows = pq_topk(e, q, k=5).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"PQ+rerank recall {recall} too low"
    # every query returns a full top-k with contiguous ranks
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == set(range(10))
    for ranks in per_q.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_lsh_candidates_scored_once(spark):
    """A pair colliding in several tables must appear once with one score."""
    from ocr_spark.operators.similarity import lsh_bucket_topk

    rows = [(i, [1.0, 0.5] + [0.0] * 62) for i in range(6)]  # all identical
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh_bucket_topk(e, e.where("vec_id = 0"), k=10, n_tables=4).collect()
    assert len(out) == 5  # each other vector exactly once
    assert all(r.sim == 1.0 for r in out)


# ---------------------------------------------------------------------------
# distributed k-means (operators/similarity.kmeans_assign)
# ---------------------------------------------------------------------------

def test_kmeans_hand_golden_two_blobs(spark):
    """Two well-separated 2-D blobs, k=2, seeds = vec_ids 0 (blob A) and 1
    (blob B): one Lloyd round lands every point in its blob and the
    assignment is stable from then on."""
    from ocr_spark.operators.similarity import kmeans_assign

    pts = [
        (0, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [0.0, 0.1]),
        (1, [5.0, 5.0]), (4, [5.1, 5.0]), (5, [5.0, 5.1]),
    ]
    e = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.cluster for r in kmeans_assign(e, k=2, n_iters=2).collect()}
    assert got == {0: 0, 2: 0, 3: 0, 1: 1, 4: 1, 5: 1}


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """With k=3 but only two real blobs, the orphaned seed keeps its old
    centroid (no NaN/missing cluster) and the output still covers every
    vector."""
    from ocr_spark.operators.similarity import kmeans_assign

    pts = [
        (0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [9.0, 9.0]),
        (3, [9.1, 9.0]), (4, [0.0, 0.1]), (5, [9.0, 9.1]),
    ]
    e = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    rows = kmeans_assign(e, k=3, n_iters=3).collect()
    assert len(rows) == 6
    assert all(r.cluster in (0, 1, 2) for r in rows)


def test_kmeans_partition_invariance(spark):
    from ocr_spark.operators.similarity import kmeans_assign

    pts = [(i, [float((i * 7) % 13) / 13.0, float((i * 11) % 17) / 17.0, float(i % 5)])
           for i in range(40)]
    e = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    a = sorted((r.vec_id, r.cluster, r.dist_q)
               for r in kmeans_assign(e, k=4, n_iters=2).collect())
    b = sorted((r.vec_id, r.cluster, r.dist_q)
               for r in kmeans_assign(e.repartition(13), k=4, n_iters=2).collect())
    assert a == b


def test_kmeans_empty_table_raises(spark):
    from ocr_spark.operators.similarity import kmeans_assign

    e = spark.createDataFrame([], "vec_id long, embedding array<float>")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty"):
        kmeans_assign(e, k=2)
