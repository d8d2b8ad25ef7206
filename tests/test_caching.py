"""Cache-registry lifecycle: the per-batch projections the streaming dedup
persists must release when the batch's scope exits — across a long-lived
stream an unreleased MEMORY_AND_DISK block is a leak the ContextCleaner can
never reclaim (the registry holds a strong reference).  The batch
operators persist nothing at all."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from docling_ocr_qwen3vl_spark.operators.caching import (
    _LIVE_CACHES,
    register_cache,
    scoped_caches,
)


def _docs(spark, n=30):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta eta theta doc "),
                 F.col("id").cast("string")).alias("text"),
    )


class _Fake:
    released = False

    def unpersist(self, blocking=False):
        self.released = True


def test_scoped_caches_releases_only_inner_entries(spark):
    with scoped_caches():
        outer = register_cache(_docs(spark).persist())
        with scoped_caches():
            inner = register_cache(_docs(spark, 10).persist())
            inner.count()
            assert inner.storageLevel.useMemory
        # inner released, outer untouched
        assert not inner.storageLevel.useMemory
        assert [df for df, _ in _LIVE_CACHES] == [outer]
    assert not _LIVE_CACHES and not outer.storageLevel.useMemory


def test_scoped_caches_releases_on_error():
    fake = _Fake()
    try:
        with scoped_caches():
            register_cache(fake)
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert fake.released and all(df is not fake for df, _ in _LIVE_CACHES)


def test_lsh_dup_pairs_query_persists_nothing(spark, tmp_path):
    """The round-3 leak was q_lsh_dup_pairs persisting two signature
    projections per call.  The query is now cache-free: building and
    running it registers nothing and its executed plan reads no cache."""
    import __spark_entry__ as entry

    docs = _docs(spark)
    sf_dir = str(tmp_path / "sf")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text").cast("long")).write.parquet(
        sf_dir + "/documents.parquet"
    )
    before = len(_LIVE_CACHES)
    out = entry.queries()["lsh_dup_pairs"](spark, sf_dir)
    out.collect()
    assert len(_LIVE_CACHES) == before
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan


def test_scoped_caches_ignores_concurrent_threads_entries():
    """Two concurrent scopes (two streaming queries' foreachBatch threads)
    must not release each other's caches: a scope exit may only unpersist
    entries ITS OWN thread registered inside the scope, and must keep (not
    drop) a concurrent registrant's entry."""
    mine, theirs = _Fake(), _Fake()
    registered = threading.Event()
    proceed = threading.Event()

    def other_thread():
        with scoped_caches():
            register_cache(theirs)
            registered.set()
            proceed.wait(10)

    t = threading.Thread(target=other_thread)
    try:
        with scoped_caches():
            register_cache(mine)
            t.start()
            assert registered.wait(10)
        # my entry released; the concurrent thread's mid-scope entry is
        # neither unpersisted nor dropped from the registry
        assert mine.released
        assert not theirs.released
        assert any(df is theirs for df, _ in _LIVE_CACHES)
    finally:
        proceed.set()
        t.join(10)
    assert not t.is_alive()
    assert theirs.released and not _LIVE_CACHES
