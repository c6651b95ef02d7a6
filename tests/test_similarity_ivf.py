"""IVF ANN semantics (SURVEY.md §2 similarity-search family — the task
spec's second ANN scale path alongside hyperplane LSH): coarse-quantizer
training is deterministic and bounded, exhaustive probing degenerates to
exact brute force, pruned probing keeps recall on clustered data, and the
persisted index serves results identical to on-the-fly search."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from feast_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    ivf_assign,
    ivf_index_topk,
    ivf_topk,
    train_ivf_centroids,
)

EMB = "/root/testdata/sf0.01/embeddings.parquet"


def _topk_sets(pdf, k):
    return pdf.groupby("query_id")["vec_id"].apply(set), k


def test_ivf_assign_is_a_partition(spark):
    emb = spark.read.parquet(EMB).select("vec_id", "embedding")
    cent = train_ivf_centroids(emb, dim=64, nlist=8, iters=2)
    assert cent.shape == (8, 64)
    cells = ivf_assign(emb, cent).select("vec_id", "__cell").toPandas()
    # exactly one cell per row, all in range — no replication (the IVF
    # storage advantage over multi-table LSH)
    assert cells["vec_id"].is_unique
    assert cells["__cell"].between(0, 7).all()


def test_ivf_exhaustive_probe_equals_brute_force(spark):
    """nprobe == nlist makes every corpus row a candidate, so the result
    must equal exact brute-force top-k bit-for-bit (same JVM cosine
    expression, same tiebreak) — pins the whole train/assign/probe/rank
    plumbing independent of recall."""
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((300, 16)).astype("float32")
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.limit(6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = (
        brute_force_topk(corpus, queries, k=8)
        .toPandas()
        .sort_values(["query_id", "vec_id"])
        .reset_index(drop=True)
    )
    ivf = (
        ivf_topk(corpus, queries, dim=16, k=8, nlist=8, nprobe=8, iters=2)
        .toPandas()
        .sort_values(["query_id", "vec_id"])
        .reset_index(drop=True)
    )
    assert ivf[["query_id", "vec_id"]].equals(exact[["query_id", "vec_id"]])
    assert np.allclose(ivf["cosine"], exact["cosine"])


def test_ivf_recall_on_planted_clusters(spark):
    """Recall ≥0.9 at k=10 probing 3 of 20 cells on tightly clustered
    vectors — the workload IVF exists for (a query's true neighbors live
    in its own cluster, so the coarse quantizer's cell contains them).
    Candidates are ~nprobe/nlist of the corpus: a genuine pruning test."""
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((20, 32))
    rows = []
    for ci, c in enumerate(centers):
        pts = c + 0.1 * rng.standard_normal((30, 32))
        rows += [
            (ci * 30 + j, p.astype("float32").tolist())
            for j, p in enumerate(pts)
        ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") % 90 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(corpus, queries, k=10).toPandas()
    approx = ivf_topk(
        corpus, queries, dim=32, k=10, nlist=20, nprobe=3, iters=4
    ).toPandas()
    e = exact.groupby("query_id")["vec_id"].apply(set)
    a = approx.groupby("query_id")["vec_id"].apply(set)
    recalls = [len(e[q] & a.get(q, set())) / 10 for q in e.index]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_ivf_nprobe_monotone_on_embeddings_table(spark):
    """On the driver's weakly-clustered embeddings fixture, recall must
    rise monotonically with nprobe (the IVF recall knob) and reach 1.0
    at nprobe=nlist; absolute recall at small nprobe is legitimately low
    on near-uniform data — that's the documented IVF/data-geometry
    trade, not a defect."""
    emb = spark.read.parquet(EMB).select("vec_id", "embedding")
    queries = emb.limit(8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=10).toPandas()
    e = exact.groupby("query_id")["vec_id"].apply(set)
    cent = train_ivf_centroids(emb, dim=64, nlist=16, iters=3)

    def recall(nprobe):
        approx = ivf_topk(
            emb, queries, dim=64, k=10, nlist=16, nprobe=nprobe,
            centroids=cent,
        ).toPandas()
        a = approx.groupby("query_id")["vec_id"].apply(set)
        rs = [len(e[q] & a.get(q, set())) / 10 for q in e.index]
        return sum(rs) / len(rs)

    r2, r8, r16 = recall(2), recall(8), recall(16)
    assert r2 <= r8 <= r16, (r2, r8, r16)
    assert r16 == 1.0, r16
    assert r8 >= 0.5, r8


def test_ivf_index_serves_identical_to_on_the_fly(spark, tmp_path_factory):
    """build_ivf_index + ivf_index_topk == ivf_topk when both use the
    same trained centroids (persisted with the table, so a serving
    process needs no retraining)."""
    root = str(tmp_path_factory.mktemp("ivf") / "idx")
    emb = spark.read.parquet(EMB).select("vec_id", "embedding")
    cent = train_ivf_centroids(emb, dim=64, nlist=16, iters=2, seed=11)
    build_ivf_index(
        emb, root, dim=64, nlist=16, seed=11, n_buckets=16, centroids=cent
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = (
        ivf_index_topk(queries, root, k=7, nprobe=4)
        .toPandas()
        .sort_values(["query_id", "vec_id"])
        .reset_index(drop=True)
    )
    fly = (
        ivf_topk(
            emb, queries, dim=64, k=7, nlist=16, nprobe=4, centroids=cent
        )
        .toPandas()
        .sort_values(["query_id", "vec_id"])
        .reset_index(drop=True)
    )
    assert served[["query_id", "vec_id"]].equals(fly[["query_id", "vec_id"]])
    assert np.allclose(served["cosine"], fly["cosine"])


def test_ivf_train_raises_on_tiny_corpus(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="nlist"):
        train_ivf_centroids(corpus, dim=2, nlist=8, iters=1)


def test_cache_retention_under_concurrent_calls(monkeypatch):
    """Server threads retain query caches at once (ADVICE r05): the ring
    never holds more than ``_CACHE_RETAIN`` entries, every evicted frame
    is unpersisted exactly once, none is lost, and no call raises."""
    import sys
    import threading

    from feast_spark.operators import similarity

    class Frame:
        def __init__(self):
            self.unpersists = 0

        def unpersist(self, blocking=False):
            self.unpersists += 1

    monkeypatch.setattr(similarity, "_cache_ring", [])
    n_threads, per_thread = 8, 300
    frames = [Frame() for _ in range(n_threads * per_thread)]
    errors: list = []
    over: list = []
    done = threading.Event()

    def work(chunk):
        try:
            for f in chunk:
                similarity._retain_cache(f)
        except Exception as e:  # noqa: BLE001 — recorded, asserted below
            errors.append(e)

    def watch():
        # a reader holding the lock never sees an over-full ring
        try:
            while not done.is_set():
                with similarity._cache_lock:
                    if len(similarity._cache_ring) > similarity._CACHE_RETAIN:
                        over.append(len(similarity._cache_ring))
        except Exception as e:  # noqa: BLE001 — recorded, asserted below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=work, args=(frames[i::n_threads],))
            for i in range(n_threads)
        ]
        watcher = threading.Thread(target=watch)
        watcher.start()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        done.set()
        watcher.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not watcher.is_alive()
    assert errors == [] and over == []
    ring = similarity._cache_ring
    assert len(ring) == similarity._CACHE_RETAIN
    assert all(f.unpersists == (0 if f in ring else 1) for f in frames)
