"""Nothing in the package caches by name: a persisted block sits in the
session's CacheManager until someone releases it, and across a long-lived
stream or a 50-query driver run an unreleased MEMORY_AND_DISK block is a
leak.  The batch operators reuse one exchange instead of a cache, and the
streaming dedup batch materializes with ``localCheckpoint``, whose blocks
Spark's ContextCleaner frees when the frame is garbage-collected."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, n=30):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta eta theta doc "),
                 F.col("id").cast("string")).alias("text"),
    )


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_lsh_dup_pairs_query_persists_nothing(spark, tmp_path):
    """The round-3 leak was q_lsh_dup_pairs persisting two signature
    projections per call.  The query is now cache-free: building and
    running it caches nothing and its executed plan reads no cache."""
    import __spark_entry__ as entry

    docs = _docs(spark)
    sf_dir = str(tmp_path / "sf")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text").cast("long")).write.parquet(
        sf_dir + "/documents.parquet"
    )
    spark.catalog.clearCache()
    out = entry.queries()["lsh_dup_pairs"](spark, sf_dir)
    out.collect()
    assert _cache_manager_empty(spark)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan


def test_streaming_dedup_batches_cache_nothing(spark, tmp_path):
    """dedup_batch and dedup_batch_embeddings (nesting and non-nesting
    candidate geometries), called with no enclosing scope and their
    outputs collected, leave the CacheManager empty."""
    from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
        EMBEDDING_N_PLANES,
        dedup_batch,
        dedup_batch_embeddings,
        read_signature_store,
    )

    spark.catalog.clearCache()
    store = read_signature_store(spark, str(tmp_path / "store"))
    for out in dedup_batch(_docs(spark), store):
        out.collect()
    assert _cache_manager_empty(spark)

    vecs = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (k + 2)).cast("float") + 0.5
                  for k in range(8)]).alias("embedding"),
    )
    for cand_planes in (8, EMBEDDING_N_PLANES - 1):  # nests / does not
        for out in dedup_batch_embeddings(vecs, store, cand_planes=cand_planes):
            out.collect()
        assert _cache_manager_empty(spark), cand_planes
