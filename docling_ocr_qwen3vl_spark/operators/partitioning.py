"""Adaptive partition spread for Python-kernel stages.

A heavy per-row kernel (Arrow pandas UDF / mapInPandas) runs at the width
of its INPUT partitioning.  A streaming micro-batch or small-file scan
arrives with 1-3 parquet splits, capping the kernel at that width while
the rest of the cluster idles; a 100 TB scan with thousands of splits has
the opposite property — repartitioning it would shuffle the full payload
for nothing.  ``spread_for_kernel`` widens ONLY narrow inputs, so the
same operator code is right at both extremes.

Two narrowness signals (both measured, round 6):

  * ``getNumPartitions() < width`` — the obvious case (few splits).
  * ``len(inputFiles()) < width`` while the split count LOOKS wide — the
    single-row-group trap: Spark range-splits a parquet file regardless of
    its row-group layout, but a range that starts past the file's only
    row-group boundary reads ZERO rows, so a 200 MB corpus written as 2
    AQE-coalesced files "has" 32 splits while every row sits in 2 of them.
    Round-6 measurement: the 1.28M-doc dedup-sweep signature stage ran
    ~120 s with 30 of 32 tasks empty (2 workers busy, host 90% idle);
    with this check + the round-robin spread it runs at full width.
    The file probe is bounded: it only fires when the split count is
    already small (< 8x width), so a 100 TB scan with ~10^5 splits never
    pays a driver-side file listing here.

Measured at local[32] (BENCH/BASELINE.md, round 5): one 80k-doc one-file
micro-batch through the k=64 MinHash kernel, 18.4 s -> 2.2 s (8.2x); the
600k-doc streaming dedup sweep end-to-end, 203 s -> 84 s at byte-identical
outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _probe_is_narrow(df: DataFrame, width: int) -> bool:
    parts = df.rdd.getNumPartitions()
    if parts < width:
        return True
    if parts < width * 8:
        # split count looks wide but may be hollow (see module docstring):
        # a file-backed plan cannot parallelize a row group across tasks,
        # so fewer files than slots means the extra splits are empty.
        # inputFiles() is [] for non-file plans (in-memory, checkpoint
        # scans) — those splits are real, leave them alone.
        try:
            n_files = len(df.inputFiles())
        except Exception:
            n_files = 0
        if 0 < n_files < width:
            return True
    return False


def spread_for_kernel(df: DataFrame) -> DataFrame:
    """Round-robin repartition to defaultParallelism when (and only when)
    the input is effectively narrower than the cluster's slot count.
    Streaming DataFrames pass through untouched (no RDD conversion exists
    for them; the foreachBatch micro-batch frames the engine actually runs
    kernels on are batch frames and DO spread).

    Probed on every call, never memoized: the same plan reads different
    files once a path is rewritten.  One probe costs ~45 ms of driver time
    warm (~0.2 s the first time) on a 10 000-doc parquet scan, 4 cores."""
    if df.isStreaming:
        return df
    width = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(width) if _probe_is_narrow(df, width) else df


def repartition_pages(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Salted page-level repartition: the one decode-stage spread of both
    page sources (synthetic pages, exploded interleaved spans).

    Hash on (doc_id, page_no), not doc_id alone, so a document with many
    pages spreads across tasks instead of pinning one.  The count is
    explicit because the decode stage is CPU-bound: AQE's size-based
    coalescing would squash it to a few tasks on small byte volumes.  The
    default is one task per slot, not 2x: every decode partition is a
    Python task, and each carries a measured ~9 ms of serialized launch
    overhead (round 6, local[32]: an identity mapInPandas over 10k rows
    costs 0.23 s at 1 task, 0.66 s at 64, 1.24 s at 128), while the salt
    already spreads pages uniformly.  ``ExtractConfig.num_partitions``
    overrides it.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(num_partitions, F.xxhash64("doc_id", "page_no"))
