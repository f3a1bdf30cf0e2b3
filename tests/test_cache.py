"""Cache lifecycle: operators register their persists; releasing returns
executor storage to baseline — the registry sweep must not accumulate
cached blocks query over query (VERDICT r3 hygiene item)."""

from __future__ import annotations

from ssg_etl_spark import cache
from ssg_etl_spark.operators import dedup, similarity, text
from ssg_etl_spark.sources.tables import load_table


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_tracked_returns_storage_to_baseline(spark, sf_dir):
    # Earlier tests in the session may have left tracked handles; flush so
    # the baseline is this test's own.
    cache.release_tracked(blocking=True)
    baseline = _n_persistent(spark)
    docs = load_table(spark, sf_dir, "documents")

    # MinHash pins the capped shingles, signatures, buckets, candidates.
    dedup.minhash_lsh_pairs(docs, 0.5).count()
    assert cache.tracked_count() >= 4
    assert _n_persistent(spark) > baseline
    cache.release_tracked(blocking=True)
    assert cache.tracked_count() == 0
    # <=: Spark's ContextCleaner may concurrently reap an earlier test's
    # GC'd persist, shrinking the count below the measured baseline.
    assert _n_persistent(spark) <= baseline

    # TF-IDF pins the tf table; IVF pins the unit corpus + per-round
    # centroids. Sequential query → release cycles stay flat, as in the
    # sweep/bench loops.
    text.tfidf_top_terms(docs, k=3).count()
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.limit(5).selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    )
    similarity.ivf_topk(emb, queries, k=5, n_cells=4, n_probe=2).count()
    assert _n_persistent(spark) > baseline
    cache.release_tracked(blocking=True)
    assert _n_persistent(spark) <= baseline


def test_release_tracked_is_idempotent_and_safe(spark):
    assert cache.release_tracked() == 0
    df = spark.range(10)
    cache.persist_tracked(df)
    df.count()
    assert cache.release_tracked(blocking=True) == 1
    assert cache.release_tracked() == 0
    # The released DataFrame is still usable (recompute, not failure).
    assert df.count() == 10


def test_scoped_release_leaves_other_consumers_handles(spark):
    """ADVICE r4: a consumer releasing with its scope token must not drop
    handles another consumer of the same session registered earlier —
    the streaming micro-batch thread vs notebook scenario."""
    cache.release_tracked(blocking=True)
    other = cache.persist_tracked(spark.range(5))
    other.count()
    tok = cache.scope_token()
    mine = cache.persist_tracked(spark.range(7))
    mine.count()
    assert cache.tracked_count() == 2
    # Scoped release drops only the post-token handle.
    assert cache.release_tracked(blocking=True, since=tok) == 1
    assert cache.tracked_count() == 1
    assert other.storageLevel.useMemory  # the neighbor's persist survived
    cache.release_tracked(blocking=True)
    assert cache.tracked_count() == 0


def test_persist_tracked_is_thread_safe(spark):
    """Concurrent registration from many threads (the foreachBatch case):
    no lost registrations, no racy list corruption."""
    import threading

    cache.release_tracked(blocking=True)
    dfs = [spark.range(i + 1) for i in range(16)]

    def reg(d):
        cache.persist_tracked(d)

    threads = [threading.Thread(target=reg, args=(d,)) for d in dfs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert cache.tracked_count() == 16
    assert cache.release_tracked(blocking=True) == 16
